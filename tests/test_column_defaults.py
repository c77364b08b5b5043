"""Column DEFAULTs + inline NOT NULL (Delta's ``DEFAULT expr`` clause /
``allowColumnDefaults`` writer feature; NOT NULL as a canonically-named
CHECK constraint): an absent defaulted column fills with its expression
on every write path, NOT NULL rides the existing constraint machinery,
and SHOW CREATE TABLE folds both back to inline syntax."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from data_pipeline_demo_spark.sinks.merge import (
    MatchedClause,
    NotMatchedClause,
    txlog_merge,
)
from data_pipeline_demo_spark.sinks.sql_dml import (
    UnsupportedSqlError,
    txtable_sql,
)
from data_pipeline_demo_spark.sinks.txlog import (
    _latest_manifest,
    read_txtable,
    shallow_clone_txtable,
    txlog_drop_column,
    txlog_rename_column,
    txlog_upsert,
)


def _root(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"dflt-{tag}-") + "/t"


def _mk(spark, root):
    df = spark.createDataFrame(
        [("a", "live", 1.0)], "k string, status string, v double"
    )
    txlog_upsert(
        spark,
        df,
        root,
        key="k",
        num_buckets=4,
        column_defaults={"status": "'pending'", "v": "0.5"},
    )
    return root


def test_absent_column_fills_default(spark):
    root = _mk(spark, _root("fill"))
    txlog_upsert(
        spark, spark.createDataFrame([("b",)], "k string"), root
    )
    rows = {
        r["k"]: (r["status"], r["v"])
        for r in read_txtable(spark, root).collect()
    }
    assert rows == {"a": ("live", 1.0), "b": ("pending", 0.5)}
    # present-but-null stays null: only ABSENCE means default
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [("c", None, None)], "k string, status string, v double"
        ),
        root,
    )
    rows = {
        r["k"]: (r["status"], r["v"])
        for r in read_txtable(spark, root).collect()
    }
    assert rows["c"] == (None, None)


def test_defaults_fixed_after_creation_and_validated(spark):
    root = _mk(spark, _root("fix"))
    with pytest.raises(ValueError, match="fixed at table creation"):
        txlog_upsert(
            spark,
            spark.createDataFrame([("b",)], "k string"),
            root,
            column_defaults={"status": "'x'"},
        )
    # key cannot default
    with pytest.raises(ValueError, match="bucketing KEY"):
        txlog_upsert(
            spark,
            spark.createDataFrame([("a", 1.0)], "k string, v double"),
            _root("vkey"),
            key="k",
            column_defaults={"k": "'x'"},
        )
    # non-constant expression refuses
    with pytest.raises(ValueError, match="does not evaluate"):
        txlog_upsert(
            spark,
            spark.createDataFrame([("a", 1.0)], "k string, v double"),
            _root("vexpr"),
            key="k",
            column_defaults={"v": "no_such_col + 1"},
        )


def test_default_validation_refuses_only_bad_expressions(
    spark, monkeypatch
):
    """An expression that fails to parse, resolve or cast refuses as
    "does not evaluate"; an unrelated failure surfaces as itself."""
    from data_pipeline_demo_spark.sinks import txlog

    schema = [
        {"name": c, "type": t, "nullable": True, "metadata": {}}
        for c, t in (("k", "string"), ("n", "integer"))
    ]
    for bad in ("1 +", "no_such_col", "'abc'", "2147483648L"):
        with pytest.raises(ValueError, match="does not evaluate"):
            txlog._validate_column_defaults(
                spark, {"n": bad}, schema, "k", {}, {}
            )

    def boom(expr):
        raise RuntimeError("unrelated")

    monkeypatch.setattr(txlog.F, "expr", boom)
    with pytest.raises(RuntimeError, match="unrelated"):
        txlog._validate_column_defaults(spark, {"n": "1"}, schema, "k", {}, {})


def test_defaults_carry_through_alter_and_clone(spark):
    root = _mk(spark, _root("alter"))
    txlog_rename_column(spark, root, "status", "state")
    man = _latest_manifest(spark, root)
    assert man["column_defaults"] == {"state": "'pending'", "v": "0.5"}
    txlog_drop_column(spark, root, "state")
    man = _latest_manifest(spark, root)
    assert man["column_defaults"] == {"v": "0.5"}
    clone = _root("alter-clone")
    shallow_clone_txtable(spark, root, clone)
    assert _latest_manifest(spark, clone)["column_defaults"] == {
        "v": "0.5"
    }


def test_conditional_merge_insert_takes_default(spark):
    root = _mk(spark, _root("cmerge"))
    txlog_merge(
        spark,
        spark.createDataFrame([("a", 9.0), ("n", 2.0)], "k string, v double"),
        root,
        matched=[MatchedClause(action="update", assignments={"v": "s.v"})],
        not_matched=[
            NotMatchedClause(columns=["k", "v"], values=["s.k", "s.v"])
        ],
    )
    rows = {
        r["k"]: (r["status"], r["v"])
        for r in read_txtable(spark, root).collect()
    }
    # updated row keeps its REAL status (finer than whole-row default);
    # inserted row takes the default for the unlisted column
    assert rows["a"] == ("live", 9.0)
    assert rows["n"] == ("pending", 2.0)


def test_sql_grammar_and_round_trip(spark):
    root = _root("sql")
    txtable_sql(
        spark,
        f"CREATE TABLE txtable.`{root}` (k STRING NOT NULL, "
        "status STRING DEFAULT 'pending', score DOUBLE DEFAULT 0.5 "
        "NOT NULL, note STRING) KEY k BUCKETS 2",
    )
    txtable_sql(spark, f"INSERT INTO txtable.`{root}` (k) VALUES ('a')")
    r = txtable_sql(
        spark, f"SELECT status, score, note FROM txtable.`{root}`"
    ).collect()[0]
    assert (r["status"], r["score"], r["note"]) == ("pending", 0.5, None)
    # NOT NULL enforced through the constraint machinery
    with pytest.raises(ValueError, match="nn_score"):
        txtable_sql(
            spark,
            f"INSERT INTO txtable.`{root}` (k, score) VALUES ('c', NULL)",
        )
    # a masked literal cannot fake a NOT NULL clause
    r2 = _root("sql-lit")
    txtable_sql(
        spark,
        f"CREATE TABLE txtable.`{r2}` (k STRING, s STRING DEFAULT "
        "'NOT NULL') KEY k BUCKETS 2",
    )
    txtable_sql(spark, f"INSERT INTO txtable.`{r2}` (k) VALUES ('x')")
    assert (
        txtable_sql(spark, f"SELECT s FROM txtable.`{r2}`").collect()[0]["s"]
        == "NOT NULL"
    )
    # SHOW CREATE emits inline clauses and re-executes equivalently
    script = txtable_sql(spark, f"SHOW CREATE TABLE txtable.`{root}`")
    assert "DEFAULT 'pending'" in script
    assert "`k` STRING NOT NULL" in script
    assert "ADD CONSTRAINT nn_" not in script  # folded, not duplicated
    clone = _root("sql2")
    for stmt in script.replace(root, clone).split(";\n"):
        txtable_sql(spark, stmt)
    txtable_sql(spark, f"INSERT INTO txtable.`{clone}` (k) VALUES ('z')")
    r = txtable_sql(
        spark, f"SELECT status, score FROM txtable.`{clone}`"
    ).collect()[0]
    assert (r["status"], r["score"]) == ("pending", 0.5)
    d = txtable_sql(spark, f"DESCRIBE DETAIL txtable.`{clone}`")
    assert d["column_defaults"] == {"status": "'pending'", "score": "0.5"}


def test_dsv2_writer_gate_for_missing_defaulted_columns(spark):
    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )
    from data_pipeline_demo_spark.sources.txtable_writer import write_txtable

    root = _mk(spark, _root("gate"))
    register_txtable_source(spark)
    # write that OMITS defaulted columns refuses
    with pytest.raises(Exception, match="DEFAULT"):
        write_txtable(
            spark.createDataFrame([("w",)], "k string"),
            root,
            key="k",
            num_buckets=4,
        )
    # write that CARRIES every defaulted column passes as-is
    write_txtable(
        spark.createDataFrame(
            [("w", "explicit", 9.0)], "k string, status string, v double"
        ),
        root,
        key="k",
        num_buckets=4,
    )
    rows = {
        r["k"]: r["status"] for r in read_txtable(spark, root).collect()
    }
    assert rows["w"] == "explicit"
    man = _latest_manifest(spark, root)
    assert man["column_defaults"] == {"status": "'pending'", "v": "0.5"}


def test_copy_into_fills_defaults(spark, tmp_path):
    root = _root("copy")
    txtable_sql(
        spark,
        f"CREATE TABLE txtable.`{root}` (k STRING, status STRING "
        "DEFAULT 'loaded', v DOUBLE) KEY k BUCKETS 2",
    )
    land = str(tmp_path / "land")
    spark.createDataFrame([("p1", 1.0)], "k string, v double").write.parquet(
        land
    )
    txtable_sql(
        spark,
        f"COPY INTO txtable.`{root}` FROM '{land}' FILEFORMAT = PARQUET",
    )
    r = txtable_sql(
        spark, f"SELECT status, v FROM txtable.`{root}`"
    ).collect()[0]
    assert (r["status"], r["v"]) == ("loaded", 1.0)


def test_alter_column_set_drop_default(spark):
    root = _root("altdef")
    txtable_sql(
        spark,
        f"CREATE TABLE txtable.`{root}` (k STRING, v DOUBLE) KEY k BUCKETS 2",
    )
    txtable_sql(spark, f"INSERT INTO txtable.`{root}` VALUES ('a', 1.0)")
    txtable_sql(
        spark, f"ALTER TABLE txtable.`{root}` ALTER COLUMN v SET DEFAULT 9.9"
    )
    txtable_sql(spark, f"INSERT INTO txtable.`{root}` (k) VALUES ('b')")
    txtable_sql(
        spark, f"ALTER TABLE txtable.`{root}` ALTER COLUMN v DROP DEFAULT"
    )
    txtable_sql(spark, f"INSERT INTO txtable.`{root}` (k) VALUES ('c')")
    rows = {
        r["k"]: r["v"]
        for r in txtable_sql(
            spark, f"SELECT k, v FROM txtable.`{root}`"
        ).collect()
    }
    assert rows == {"a": 1.0, "b": 9.9, "c": None}
    with pytest.raises(ValueError, match="no DEFAULT to drop"):
        txtable_sql(
            spark, f"ALTER TABLE txtable.`{root}` ALTER COLUMN v DROP DEFAULT"
        )
    # ADD COLUMN ... DEFAULT: no backfill, future writes fill
    txtable_sql(
        spark,
        f"ALTER TABLE txtable.`{root}` ADD COLUMN tag STRING DEFAULT 'fresh'",
    )
    txtable_sql(spark, f"INSERT INTO txtable.`{root}` (k) VALUES ('d')")
    rows = {
        r["k"]: r["tag"]
        for r in txtable_sql(
            spark, f"SELECT k, tag FROM txtable.`{root}`"
        ).collect()
    }
    assert rows == {"a": None, "b": None, "c": None, "d": "fresh"}
    script = txtable_sql(spark, f"SHOW CREATE TABLE txtable.`{root}`")
    assert "DEFAULT 'fresh'" in script


def test_update_set_default_keyword(spark):
    root = _mk(spark, _root("setdef"))
    txtable_sql(
        spark,
        f"UPDATE txtable.`{root}` SET status = DEFAULT WHERE k = 'a'",
    )
    r = read_txtable(spark, root).collect()[0]
    assert r["status"] == "pending"
    # a quoted 'DEFAULT' literal is a VALUE, not the keyword
    txtable_sql(
        spark,
        f"UPDATE txtable.`{root}` SET status = 'DEFAULT' WHERE k = 'a'",
    )
    assert read_txtable(spark, root).collect()[0]["status"] == "DEFAULT"
    # no declared default -> precise refusal
    with pytest.raises(UnsupportedSqlError, match="no declared DEFAULT"):
        txtable_sql(
            spark, f"UPDATE txtable.`{root}` SET k = DEFAULT WHERE true"
        )


def test_sql_insert_overwrite_keeps_generated_columns_and_defaults(spark):
    """SQL INSERT OVERWRITE computes generated columns and fills
    defaults itself, so the overwritten table keeps both rules: a later
    INSERT naming only (id, v) still fills d and computes g."""
    root = _root("ow")
    txtable_sql(
        spark,
        f"CREATE TABLE txtable.`{root}` (id BIGINT, v INT, g INT GENERATED "
        "ALWAYS AS (v * 2), d STRING DEFAULT 'x') KEY id BUCKETS 4",
    )
    txtable_sql(spark, f"INSERT OVERWRITE txtable.`{root}` (id, v) VALUES (3, 30)")
    man = _latest_manifest(spark, root)
    assert man["generated_columns"] == {"g": "v * 2"}
    assert man["column_defaults"] == {"d": "'x'"}
    txtable_sql(spark, f"INSERT INTO txtable.`{root}` (id, v) VALUES (4, 40)")
    got = {r["id"]: (r["v"], r["d"], r["g"]) for r in read_txtable(spark, root).collect()}
    assert got == {3: (30, "x", 60), 4: (40, "x", 80)}
