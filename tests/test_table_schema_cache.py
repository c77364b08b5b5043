"""The catalog loader's parquet schema cache (sources/tables.py): a
repeated ``table()`` read runs no schema-inference job, and the cache
key (path, file length and modification time, the inference confs)
misses whenever a plain read would infer a different schema."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline_demo_spark import session
from data_pipeline_demo_spark.plans import all_queries
from data_pipeline_demo_spark.sources import tables
from data_pipeline_demo_spark.sources.tables import table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
BINARY_AS_STRING = "spark.sql.parquet.binaryAsString"


def _cached_paths() -> set[str]:
    return {key[0] for key in tables._SCHEMAS._entries}


@pytest.mark.parametrize(
    "query",
    [
        "q01_pricing_summary",
        "q36_session_window",
        "q141_tpch_q8",
        "q143_tpch_q17",
    ],
)
def test_second_build_runs_no_jobs(spark, sf_dir, jobs_during, query):
    """Building a query again launches no Spark job: every catalog
    read takes its schema from the cache (1, 1, 6 and 2 inference jobs
    without it)."""
    build = all_queries()[0][query]
    build(spark, sf_dir)
    assert jobs_during(lambda: build(spark, sf_dir)) == 0


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path
    )
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(0, "A"), (1, "B")]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    pq.write_table(
        pa.table({"b": pa.array([b"x"], pa.binary())}),
        str(tmp_path / "region.parquet"),
    )
    old = spark.conf.get(BINARY_AS_STRING)
    try:
        spark.conf.set(BINARY_AS_STRING, "false")
        assert table(spark, str(tmp_path), "region").dtypes == [("b", "binary")]
        spark.conf.set(BINARY_AS_STRING, "true")
        df = table(spark, str(tmp_path), "region")
        assert df.dtypes == [("b", "string")]
        assert df.collect()[0]["b"] == "x"
    finally:
        spark.conf.set(BINARY_AS_STRING, old)


def test_directory_path_is_never_cached(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.range(3).write.parquet(path)
    for _ in range(2):
        df = table(spark, str(tmp_path), "region")
        assert sorted(r["id"] for r in df.collect()) == [0, 1, 2]
    assert path not in _cached_paths()


def test_cache_never_grows_past_its_cap(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMAS", tables._SchemaCache(2))
    dirs = []
    for i in range(4):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        pq.write_table(pa.table({"c": [i]}), str(d / "nation.parquet"))
        dirs.append(str(d))
        assert table(spark, dirs[-1], "nation").collect()[0]["c"] == i
        assert len(tables._SCHEMAS) <= 2
    assert _cached_paths() == {f"{d}/nation.parquet" for d in dirs[-2:]}


def test_events_leaves_the_session_conf_alone(spark, sf_dir):
    """``table("events")`` does not set ``nanosAsLong`` on the caller's
    session, and ``ts`` is a TIMESTAMP with the same values whichever
    way the session reads TIMESTAMP(NANOS)."""
    old = spark.conf.get(NANOS_AS_LONG)
    try:
        got = {}
        for value in ("false", "true"):
            spark.conf.set(NANOS_AS_LONG, value)
            df = table(spark, sf_dir, "events")
            assert spark.conf.get(NANOS_AS_LONG) == value
            assert dict(df.dtypes)["ts"] == "timestamp"
            got[value] = sorted(df.select("event_id", "ts").collect())
        assert got["false"] == got["true"]
    finally:
        spark.conf.set(NANOS_AS_LONG, old)


def test_ensure_runtime_confs_tolerates_a_static_conf(spark, monkeypatch):
    """A conf the session cannot change at runtime raises
    CANNOT_MODIFY_STATIC_CONFIG; the others are still asserted."""
    monkeypatch.setattr(
        session,
        "RUNTIME_CONFS",
        {
            "spark.sql.warehouse.dir": "/nonexistent",
            "spark.sql.session.timeZone": "UTC",
        },
    )
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        session.ensure_runtime_confs(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
