"""Run every txtable write verb once and dump the manifests it commits.

The scenario builds one table that carries every carry-forward feature
at once — identity column, generated column, column DEFAULT, writer
watermark (``app_txns``), COPY INTO history, deletion vectors, manifest
sharding and a table property — then applies each verb and records the
root manifest before and after it. The two table-metadata verbs (SET
TBLPROPERTIES, ADD CONSTRAINT) run last, so no constraint check adds a
Spark job to a data verb. ``tests/test_manifest.py`` pins which
fields each verb keeps, resets or changes from this scenario; the CLI
prints the normalized manifests so two checkouts can be diffed:

    python tools/manifest_matrix.py > a.json   # in checkout A
    python tools/manifest_matrix.py > b.json   # in checkout B
    diff a.json b.json

A second table declares zone-map (``v``, decimal ``d``) and Bloom
(``s``) columns and takes blind appends through both COPY INTO and
``format("txtable")`` — batches with values, with ``s`` all null, and
(COPY INTO) without ``s`` — so the diff covers the append bookkeeping
both paths share: counts, widened bounds, null counts and OR'd Bloom
words.

Each step's Spark job count (``plan_audit.count_jobs``) prints beside
the manifests, under ``jobs`` and ``bloom_jobs``, so the same diff
shows a verb that gained or lost a job.

Normalization replaces commit times and uuid-derived file, shard and
sidecar names, so equal output means equal manifests. The script uses
only the public verbs.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plan_audit import count_jobs  # noqa: E402

_UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}|[0-9a-f]{32}"
)


def raw_manifest(root: str, version: int | None = None) -> dict | None:
    """The committed root manifest as stored (``None`` before the first
    commit), with sharded bucket lists read back from their shards."""
    names = sorted(glob.glob(os.path.join(root, "_commits", "[0-9]*.json")))
    if not names:
        return None
    path = names[-1] if version is None else names[version]
    with open(path) as f:
        m = json.load(f)
    if "manifest_shards" in m:
        m["buckets"] = {}
        for rel in m["manifest_shards"].values():
            with open(os.path.join(root, rel)) as f:
                m["buckets"].update(json.load(f)["buckets"])
    return m


def normalize(m, workdir: str = ""):
    """``m`` with commit times zeroed, uuids and the scratch directory
    masked, and file lists sorted (their order follows the masked
    names)."""
    if isinstance(m, dict):
        return {
            k: 0 if k == "committed_at_ms" else normalize(v, workdir)
            for k, v in m.items()
        }
    if isinstance(m, list):
        out = [normalize(v, workdir) for v in m]
        return sorted(out) if all(isinstance(v, str) for v in out) else out
    if isinstance(m, str):
        if workdir:
            m = m.replace(workdir, "<workdir>")
        return _UUID.sub("<uuid>", m)
    return m


def run_verbs(
    spark, workdir: str, jobs: dict[str, int] | None = None
) -> list[tuple[str, dict | None, dict]]:
    """Apply every write verb once; returns ``(verb, before, after)``
    root manifests in commit order. ``before`` is the snapshot the verb
    started from (the source table's, for the clones). ``jobs``, when
    given, receives each verb's Spark job count."""
    from pyspark.sql import functions as F

    from data_pipeline_demo_spark.sinks.copy_into import copy_into
    from data_pipeline_demo_spark.sinks.merge import (
        MatchedClause,
        NotMatchedClause,
        txlog_merge,
    )
    from data_pipeline_demo_spark.sinks.txlog import (
        analyze_txtable,
        compact_txtable,
        deep_clone_txtable,
        rebucket_txtable,
        restore_txtable,
        set_table_constraint,
        set_table_properties,
        shallow_clone_txtable,
        truncate_txtable,
        txlog_add_column,
        txlog_delete,
        txlog_drop_column,
        txlog_update,
        txlog_upsert,
    )
    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )

    register_txtable_source(spark)
    t = os.path.join(workdir, "t")
    land = os.path.join(workdir, "land")
    shallow = os.path.join(workdir, "shallow")
    deep = os.path.join(workdir, "deep")
    out: list[tuple[str, dict | None, dict]] = []

    def rows(lo: int, hi: int):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        )

    def step(verb, root, fn, source=None):
        before = raw_manifest(source or root)
        n = count_jobs(spark, fn)
        if jobs is not None:
            jobs[verb] = n
        out.append((verb, before, raw_manifest(root)))

    def write(mode: str, df, root: str) -> None:
        (
            df.write.format("txtable")
            .option("generatedColumnsHandled", "true")
            .option("identityColumnsHandled", "true")
            .mode(mode)
            .save(root)
        )

    step("CREATE", t, lambda: txlog_upsert(
        spark,
        rows(0, 40).withColumn("ident", F.lit(None).cast("long")),
        t,
        key="id",
        num_buckets=4,
        stats_columns=["v"],
        generated_columns={"g": "v * 2"},
        identity_columns={"ident": {"always": False}},
        column_defaults={"d": "'x'"},
        properties={"owner": "matrix"},
        txn_app_id="app",
        txn_version=0,
        manifest_shards=2,
    ))
    rows(40, 60).write.parquet(os.path.join(land, "batch0"))
    step("COPY INTO", t, lambda: copy_into(spark, t, land, "parquet"))
    step("DELETE MOR", t, lambda: txlog_delete(
        spark, t, keys=spark.range(0, 3), mode="merge-on-read"
    ))
    step("ALTER ADD", t, lambda: txlog_add_column(spark, t, "extra", "string"))
    step("ALTER DROP", t, lambda: txlog_drop_column(spark, t, "extra"))
    step("APPEND", t, lambda: write(
        "append",
        rows(70, 72).select(
            "id",
            "v",
            (F.col("v") * 2).alias("g"),
            F.lit("y").alias("d"),
            (F.col("id") + 1000).alias("ident"),
        ),
        t,
    ))
    step("UPDATE MOR", t, lambda: txlog_update(
        spark, t, {"v": "v + 100"}, "id = 10", mode="merge-on-read"
    ))
    step("DELETE COW", t, lambda: txlog_delete(spark, t, where="id = 30"))
    step("UPDATE COW", t, lambda: txlog_update(
        spark, t, {"v": "v + 1"}, "id = 31"
    ))
    step("MERGE upsert", t, lambda: txlog_upsert(
        spark, rows(60, 61), t, txn_app_id="app", txn_version=1
    ))
    step("ANALYZE", t, lambda: analyze_txtable(spark, t, stats_columns=["v"]))
    step("OPTIMIZE ZORDER", t, lambda: compact_txtable(
        spark, t, zorder_by=["v"]
    ))
    step("MERGE conditional", t, lambda: txlog_merge(
        spark,
        rows(20, 23).withColumn("v", F.lit(5).cast("long")),
        t,
        matched=[MatchedClause("update", assignments={"v": "s.v"})],
        not_matched=[NotMatchedClause()],
    ))
    step("REBUCKET", t, lambda: rebucket_txtable(spark, t, 8))
    step("CLONE shallow", shallow, lambda: shallow_clone_txtable(
        spark, t, shallow
    ), source=t)
    step("CLONE deep", deep, lambda: deep_clone_txtable(spark, t, deep),
         source=t)
    step("REPLACE", shallow, lambda: txlog_upsert(
        spark,
        rows(0, 5).withColumn("ident", F.lit(None).cast("long")),
        shallow,
        key="id",
        num_buckets=2,
        replace=True,
    ))
    # back to the snapshot right after the first DELETE (it has DVs)
    step("RESTORE", t, lambda: restore_txtable(spark, t, version=2))
    step("ANALYZE after RESTORE", t, lambda: analyze_txtable(spark, t))
    step("TRUNCATE", t, lambda: truncate_txtable(spark, t))
    step("OVERWRITE", t, lambda: write(
        "overwrite",
        rows(0, 3).select(
            "id",
            "v",
            (F.col("v") * 2).alias("g"),
            F.lit("z").alias("d"),
            (F.col("id") + 2000).alias("ident"),
        ),
        t,
    ))
    step("SET TBLPROPERTIES", t, lambda: set_table_properties(
        spark, t, {"owner": "matrix-2"}
    ))
    step("ADD CONSTRAINT", t, lambda: set_table_constraint(
        spark, t, "v_nonneg", "v >= 0"
    ))
    return out


def run_bloom_appends(
    spark, workdir: str, jobs: dict[str, int] | None = None
) -> list[str]:
    """Blind appends into the stats- and Bloom-declared table
    ``<workdir>/bt``, one commit each; returns the verbs in commit
    order. ``jobs``, when given, receives each verb's Spark job
    count."""
    from pyspark.sql import functions as F

    from data_pipeline_demo_spark.sinks.copy_into import copy_into
    from data_pipeline_demo_spark.sinks.txlog import txlog_upsert
    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )

    register_txtable_source(spark)
    t = os.path.join(workdir, "bt")
    verbs: list[str] = []

    def rows(lo: int, hi: int, s=True):
        cols = [
            F.col("id"),
            (F.col("id") % 7).alias("v"),
            (F.col("id") / 4).cast("decimal(10,2)").alias("d"),
        ]
        if s is not None:
            sv = F.concat(F.lit("s"), F.col("id").cast("string")) if s else None
            cols.append((sv if s else F.lit(None)).cast("string").alias("s"))
        return spark.range(lo, hi).select(*cols)

    def load(name: str, df) -> None:
        land = os.path.join(workdir, "bland", name)
        df.coalesce(1).write.parquet(land)
        copy_into(spark, t, land, "parquet")

    def append(df) -> None:
        df.write.format("txtable").mode("append").save(t)

    # a few rows in 8 buckets: the first loads also open new buckets
    for verb, fn in (
        ("CREATE", lambda: txlog_upsert(
            spark, rows(0, 2), t, key="id", num_buckets=8,
            stats_columns=["v", "d"], bloom_columns=["s"],
        )),
        ("COPY INTO no s", lambda: load("absent", rows(2, 5, s=None))),
        ("COPY INTO s null", lambda: load("nulls", rows(5, 8, s=False))),
        ("APPEND s null", lambda: append(rows(8, 11, s=False))),
        ("COPY INTO", lambda: load("values", rows(11, 40))),
        ("APPEND", lambda: append(rows(40, 70))),
    ):
        n = count_jobs(spark, fn)
        if jobs is not None:
            jobs[verb] = n
        verbs.append(verb)
    return verbs


def main() -> None:
    from data_pipeline_demo_spark.session import get_spark

    spark = get_spark("manifest-matrix", master="local[2]", shuffle_partitions=4)
    with tempfile.TemporaryDirectory(prefix="manifest-matrix-") as d:
        jobs: dict[str, int] = {}
        bloom_jobs: dict[str, int] = {}
        steps = run_verbs(spark, d, jobs)
        bloom_verbs = run_bloom_appends(spark, d, bloom_jobs)
        tables, root_bytes = {}, {}
        for name in ("t", "shallow", "deep", "bt"):
            files = sorted(
                glob.glob(os.path.join(d, name, "_commits", "[0-9]*.json"))
            )
            tables[name] = [
                normalize(raw_manifest(os.path.join(d, name), v), d)
                for v in range(len(files))
            ]
            root_bytes[name] = [os.path.getsize(f) for f in files]
    print(json.dumps(
        {
            "verbs": [v for v, _, _ in steps],
            "bloom_verbs": bloom_verbs,
            "jobs": jobs,
            "bloom_jobs": bloom_jobs,
            "tables": tables,
            "root_bytes": root_bytes,
        },
        indent=1,
        sort_keys=True,
    ))
    spark.stop()


if __name__ == "__main__":
    main()
