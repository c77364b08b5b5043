"""SparkSession factory with scale-aware defaults.

The reference runs a single Python process (SURVEY.md §3); our engine is
built for a multi-executor cluster. The same config block works on
``local[N]`` (tests/bench) and on a real cluster — only ``master`` and the
shuffle-partition count change.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime-settable confs we also re-assert on sessions we did not create
# (the driver hands `entry()` its own session): determinism first.
RUNTIME_CONFS: dict[str, str] = {
    # Naive parquet timestamps must mean the same wall time in Spark and
    # in the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (partition coalescing, skew-join splitting,
    # broadcast conversion) — the main lever that makes one logical plan
    # work at sf0.001 and at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE merges post-shuffle partitions up to a 1 MB floor by default.
    # Shuffle bytes in the similarity/dedup family are compressed long
    # arrays whose per-byte CPU (array_intersect verify, window ranks)
    # is orders of magnitude above a scan's: measured at sf0.1, the
    # Jaccard verify stage coalesced to 3 tasks × ~1 MB × ~0.5 s CPU
    # each while 29 cores idled (r12, OPTIMIZATION_r12.md). A 128 KB
    # floor still merges true slivers but lets parallelismFirst use the
    # cores; at cluster scale stage inputs dwarf either floor, so this
    # only bites the small-bytes/CPU-dense stages (and skew-split
    # chunk sizing, which the same floor governs) where it should.
    # Parameterised (r13): deployments can restore the 1 MB default or
    # pick their own floor per cluster; the r13 A/B (same-session
    # interleaved, 3 passes, full headline set — OPTIMIZATION_r13.md)
    # measured 128 KB ~10% faster overall and no query favoring 1 MB.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "131072"
    ),
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

STATIC_CONFS: dict[str, str] = {
    # ~128 MB input splits: sane parallelism for large parquet scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # 10 MB broadcast threshold is Spark's default; dims (region, nation,
    # supplier, part at small SF) fall under it. AQE can also convert
    # sort-merge joins to broadcast at runtime via this threshold.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # format("txtable")'s reader implements DataSourceReader.pushFilters
    # (zone-map + key-bucket partition pruning); Spark 4.1 refuses a
    # pushFilters-bearing reader unless this is on.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # zstd over snappy default: ~30% smaller files at comparable CPU —
    # at 100 TB the scan is IO-bound, so smaller bytes win end-to-end.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.columnarReaderBatchSize": "4096",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Catalog tables (bucketed-join layout, sinks/bucketed.py) land under
    # a scratch warehouse, never the repo working dir. Static conf — must
    # be set before the session exists.
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"
    ),
}


def get_spark(
    app_name: str = "data-pipeline-demo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` outside a cluster.
    ``shuffle_partitions`` should track cluster core count; 32 suits the
    local harness, a 1000-executor cluster wants O(cores × 2-3) — AQE
    coalesces the excess either way.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    confs = {**STATIC_CONFS, **RUNTIME_CONFS}
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _register_engine_sources(spark)
    return spark


def _register_engine_sources(spark: SparkSession) -> None:
    """Make the engine's Python data sources (``format("txtable")``)
    resolvable on every session the factory hands out. Registration is
    per-session metadata only — no-op cost when unused."""
    try:
        from .sources.txtable_source import register_txtable_source

        register_txtable_source(spark)
    except (ImportError, AttributeError):
        # a Spark build without the Python DataSource API still works;
        # any OTHER failure is a real bug in the source module and must
        # not silently leave format("txtable") unresolvable
        pass
    except Exception as e:  # pragma: no cover - defensive signal path
        # broad on purpose: a session without format("txtable") still
        # serves every other query, so the failure warns, not raises
        import warnings

        warnings.warn(
            f"format('txtable') registration failed: {e!r}", RuntimeWarning
        )


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Assert determinism-critical confs on a session we did not build.

    The driver passes its own session to ``entry()``/``queries()``; these
    confs are all runtime-settable so this is safe and idempotent.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass  # CANNOT_MODIFY_STATIC_CONFIG on this build — keep going
    # the engine's data sources are part of its query surface: a foreign
    # session running registry queries needs format("txtable") resolvable
    _register_engine_sources(spark)
    return spark
