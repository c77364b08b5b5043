"""Parquet table catalog over the synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under a scale-
factor directory. We rely on Catalyst column pruning + filter pushdown
(verify with ``.explain``: ``ReadSchema`` should list only referenced
columns, ``PushedFilters`` the predicates).

Schemas come from a bounded, process-wide cache instead of a footer read
per call: ``spark.read.parquet(path)`` launches a Spark job to infer the
schema on every call (105-150 ms on a 4-core local host, against 16-30
ms with the schema passed in, which launches none). An entry is keyed by

- the path as given;
- the file's length and modification time, from one Hadoop FileSystem
  status call, so any Hadoop URI works and a rewritten file misses;
- the session confs Spark 4.1's parquet schema inference reads
  (``_INFERENCE_CONFS``), so two sessions that would infer different
  types never share an entry.

A miss infers the schema exactly as a plain read does. The cache holds
the schema and not the DataFrame: a shared DataFrame would hand two
``table()`` calls the same expression ids, which breaks DataFrame-API
self-joins, and would pin the file listing of its first read (Spark
still lists the files on every read). A directory path (or a glob
matching more than one file) is read with plain inference and never
cached: fingerprinting a partitioned dataset is out of scope.

At 100 TB these would be partitioned datasets (e.g. lineitem partitioned by
ship month); the loader takes any Hadoop-FS path so the same code reads a
directory tree of parquet with partition pruning for free.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sinks.upsert import _hadoop_fs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should be broadcast in joins against facts.
BROADCAST_DIMS = {"region", "nation", "supplier", "part", "customer"}

# The session confs ParquetFileFormat reads when it builds the
# ParquetToSparkSchemaConverter for schema inference (Spark 4.1). The
# converter's other inputs (caseSensitive, field ids, variant
# annotations) are fixed defaults there, not session confs.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)


class _SchemaCache:
    """Least-recently-used map from a parquet file's fingerprint to its
    inferred schema, holding at most ``cap`` entries."""

    def __init__(self, cap: int):
        self.cap = cap
        self._entries: OrderedDict[tuple, StructType] = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key: tuple) -> StructType | None:
        with self._lock:
            schema = self._entries.get(key)
            if schema is not None:
                self._entries.move_to_end(key)
            return schema

    def put(self, key: tuple, schema: StructType) -> None:
        with self._lock:
            self._entries[key] = schema
            self._entries.move_to_end(key)
            while len(self._entries) > self.cap:
                self._entries.popitem(last=False)


# a few scale-factor directories of the ten-table catalog
_SCHEMAS = _SchemaCache(64)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``sf_dir``."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return _read_parquet(spark, path)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` under the cached schema of the one
    file ``path`` names (module docstring); a directory is inferred."""
    fs, qualified = _hadoop_fs(spark, path)
    found = fs.globStatus(qualified)
    if found is None or len(found) != 1 or found[0].isDirectory():
        return spark.read.parquet(path)
    status = found[0]
    key = (
        path,
        status.getLen(),
        status.getModificationTime(),
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMAS.put(key, schema)
    return spark.read.schema(schema).parquet(path)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Events carries TIMESTAMP(NANOS) parquet. Spark 4.x reads it
    natively as TIMESTAMP_NTZ (nanos truncated to micros); a session
    the caller configured with the legacy
    ``spark.sql.legacy.parquet.nanosAsLong=true`` reads raw int64 nanos
    instead. This loader never sets that conf: it would retype every
    later TIMESTAMP(NANOS) read on the caller's session. Normalize both
    forms to a session-zone TimestampType — the session is pinned UTC
    (session.py) so the NTZ→TZ cast is deterministic — because
    window/watermark operators accept either but ``unix_micros`` and the
    epoch arithmetic in streaming/jobs.py require TIMESTAMP."""
    raw = _read_parquet(spark, path)
    dtype = dict(raw.dtypes).get("ts")
    if dtype == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` text queries
    (the engine's SQL surface) can run against the catalog."""
    for n in TABLE_NAMES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)
