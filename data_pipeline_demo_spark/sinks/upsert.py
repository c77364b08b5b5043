"""Idempotent upsert sink + ingest ledger (SURVEY.md §2.1 K3/K5, P4/O1).

The reference's core sink is a chunked PostgREST ``upsert(on_conflict=
"id")`` with retry + dead-letter (`/root/reference/data_pipeline.py:
501-572`). The engine provides the same semantics two ways:

- **Log-backed MERGE** (`sinks.txlog.txlog_upsert`): every keyed
  upsert into a table (the batch ETL's target, the streaming bridge)
  commits one atomic snapshot of a hash-bucketed txtable. This module
  keeps the bucketing function and the Hadoop-FS helpers it uses.
- **JDBC upsert executor** (`upsert_jdbc` around `upsert_sql`): each
  partition streams batched ``INSERT … ON CONFLICT (id) DO UPDATE``
  statements through a DB-API connection — the direct analog of the
  reference's endpoint, minus the 5,000-row single-thread bottleneck.

The **ledger guard** (`new_files`) is the duplicate-run check
(`data_pipeline.py:138-142,:213-238`) as ONE set-based anti-join per
batch instead of one LIMIT-1 probe per file.

Spark task retries subsume the reference's re-chunk-at-1000 retry (K4);
rows that still fail schema/cast validation quarantine explicitly
(`sources.csv_ingest.read_csv_with_quarantine` + `write_quarantine`).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator, Sequence
from itertools import chain

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__bucket"


def _bucket_of(key: str, num_buckets: int) -> Column:
    """Stable key → bucket id. Null keys land in bucket ``42 % n``:
    Spark's ``xxhash64`` skips null inputs and returns the seed (42)
    unchanged, so ``pmod`` of it is never null — the ``coalesce`` is a
    belt-and-suspenders guard that cannot actually fire. The python
    writer (``sources/txtable_writer.py:bucket_ids_for``) mirrors this
    exactly (parity tested)."""
    return F.coalesce(
        F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)), F.lit(0)
    ).cast("int")


# A composite key joins its parts with _KEY_SEP; NUL escapes the
# separator and itself inside a part, and a NULL part is _NULL_PART.
_KEY_SEP = "\x1f"
_NULL_PART = "\x00N"


def composite_key(cols: Sequence[str]) -> Column:
    """Injective, null-distinct string key of the columns ``cols``.
    ``concat_ws`` alone SKIPS nulls, so ``(NULL, 'x')`` and
    ``('x', NULL)`` would share a key; here each part is its ``CAST AS
    STRING`` with the escape applied, so no value can forge another
    part's encoding. A key of non-null values without NUL or separator
    bytes equals ``concat_ws``'s."""

    def part(c):
        s = F.col(c).cast("string")
        escaped = F.regexp_replace(
            F.regexp_replace(s, "\x00", "\x00\x00"), _KEY_SEP, "\x00\x1f"
        )
        return F.coalesce(escaped, F.lit(_NULL_PART))

    return F.concat_ws(_KEY_SEP, *[part(c) for c in cols])


def composite_key_str(parts: Sequence[str | None]) -> str:
    """:func:`composite_key` of literal ``parts``, each already rendered
    as its ``CAST AS STRING`` text (``None`` for NULL)."""
    return _KEY_SEP.join(
        _NULL_PART
        if p is None
        else p.replace("\x00", "\x00\x00").replace(_KEY_SEP, "\x00\x1f")
        for p in parts
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, qualified Path) for any Hadoop-FS URI — file://,
    hdfs://, s3a://, or a bare local path. All sink metadata and commit
    renames go through this so the sink is not POSIX-bound."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def read_json_sidecar(spark: SparkSession, path: str) -> dict | None:
    """Read a small JSON metadata file through the Hadoop FS API (so it
    works on file://, hdfs://, s3a:// — sink layouts carry their own
    self-describing metadata this way)."""
    fs, spec = _hadoop_fs(spark, path)
    if not fs.exists(spec):
        return None
    stream = fs.open(spec)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def write_json_sidecar(spark: SparkSession, path: str, obj: dict) -> None:
    """Overwrite a small JSON metadata file through the Hadoop FS API."""
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


def _swap_in(fs, jvm, src, dst) -> None:
    """Replace ``dst`` with ``src`` via two renames (the rollup's
    per-partition publish). The in-between window is two metadata ops
    on a real filesystem; on object stores without atomic rename it is
    not atomic — keyed table writes commit through ``sinks.txlog``
    instead."""
    trash = jvm.org.apache.hadoop.fs.Path(
        dst.getParent(), "." + dst.getName() + ".replaced"
    )
    if fs.exists(trash):
        fs.delete(trash, True)
    had_old = fs.exists(dst)
    if had_old and not fs.rename(dst, trash):
        raise IOError(f"rename {dst} -> {trash} failed")
    if not fs.rename(src, dst):
        if had_old:
            fs.rename(trash, dst)  # roll back; staged output still intact
        raise IOError(f"rename {src} -> {dst} failed")
    if had_old:
        fs.delete(trash, True)


def upsert_sql(table: str, columns: Sequence[str], key: str = "id") -> str:
    """Render the per-batch Postgres upsert a foreachPartition writer
    executes — the reference's `on_conflict="id"` (data_pipeline.py:515)
    in plain SQL. Placeholders are %s for psycopg-style drivers."""
    collist = ", ".join(columns)
    placeholders = ", ".join(["%s"] * len(columns))
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c != key)
    return (
        f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
        f"ON CONFLICT ({key}) DO UPDATE SET {sets}"
    )


def upsert_jdbc(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], object],
    key: str = "id",
    batch_size: int = 1000,
) -> None:
    """Execute the upsert against a relational target: one DB-API
    connection per partition, `executemany` in `batch_size` slices, one
    commit per partition (K3, data_pipeline.py:501-542).

    ``connection_factory`` must be picklable (a module-level callable or
    functools.partial) — it runs inside the executors' Python workers,
    so each partition opens its own connection; nothing is shared with
    the driver. Partitions stream independently: N partitions give N
    concurrent upsert streams where the reference had one thread.
    Spark task retry re-runs a failed partition; ON CONFLICT makes the
    replay idempotent.
    """
    cols = list(df.columns)
    sql = upsert_sql(table, cols, key)

    def _write_partition(rows: Iterator[Row]) -> None:
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return  # empty partition: never open a connection
        conn = connection_factory()
        try:
            cur = conn.cursor()
            buf: list[tuple] = []
            for row in chain([first], it):
                buf.append(tuple(row[c] for c in cols))
                if len(buf) >= batch_size:
                    cur.executemany(sql, buf)
                    buf = []
            if buf:
                cur.executemany(sql, buf)
            conn.commit()
        except BaseException:
            conn.rollback()
            raise
        finally:
            conn.close()

    df.foreachPartition(_write_partition)


def append_ledger(
    spark: SparkSession,
    ledger_path: str,
    filename: str,
    filedate: str,
    num_rows: int,
    subject: str,
) -> None:
    """K5: one ledger row per ingested file (data_pipeline.py:241-261)."""
    append_ledger_rows(spark, ledger_path, [(filename, filedate, int(num_rows), subject)])


def append_ledger_rows(
    spark: SparkSession,
    ledger_path: str,
    rows: Iterable[tuple[str, str, int, str]],
) -> None:
    """K5 batched: all of a run's ledger rows in one append — one write
    job for N files instead of N."""
    rows = list(rows)
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "filename string, filedate string, num_rows long, subject string"
    )
    df.write.mode("append").parquet(ledger_path)


def new_files(candidates: DataFrame, ledger: DataFrame) -> DataFrame:
    """P4 generalized: files not yet in the ledger, by (filedate,
    filename) — one anti-join for the whole batch."""
    return candidates.join(ledger, on=["filedate", "filename"], how="left_anti")


def write_quarantine(
    quarantine: DataFrame, path: str, reason: str | Column = "schema"
) -> None:
    """K4 dead-letter: persist poison rows as a queryable table (the
    reference writes a timestamped CSV, data_pipeline.py:559-570).
    ``reason`` may be a per-row Column (e.g. derived from the source
    file) or a constant string."""
    r = F.lit(reason) if isinstance(reason, str) else reason
    quarantine.withColumn("_reason", r).write.mode("append").parquet(path)
