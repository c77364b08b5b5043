"""Round-11 stretch directive #9: sweep real-world Delta-tutorial
statement shapes through txtable_sql — each is either supported or
refused with a precise, guidance-bearing message (never a silent
misparse or a generic wall)."""

from __future__ import annotations

import pytest

from data_pipeline_demo_spark.sinks.sql_dml import (
    UnsupportedSqlError,
    txtable_sql,
)
from data_pipeline_demo_spark.sinks.txlog import (
    read_txtable,
    table_constraints,
    txlog_upsert,
)


@pytest.fixture()
def t(spark, tmp_path):
    root = str(tmp_path / "gram_tx")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)],
            "id long, note string, amt double",
        ),
        root,
        key="id",
        num_buckets=2,
    )
    return root


def test_merge_aliases_without_as_and_by_target(spark, t):
    """Delta tutorials write `MERGE INTO tgt t USING src u` (no AS) and
    `WHEN NOT MATCHED BY TARGET` (synonym for NOT MATCHED)."""
    spark.createDataFrame(
        [(1, "x", 1.0), (9, "n", 9.0)], "id long, note string, amt double"
    ).createOrReplaceTempView("gram_updates")
    n = txtable_sql(
        spark,
        f"MERGE INTO txtable.`{t}` t USING gram_updates u "
        "ON t.id = u.id "
        "WHEN MATCHED THEN UPDATE SET note = u.note "
        "WHEN NOT MATCHED BY TARGET THEN INSERT "
        "(id, note, amt) VALUES (u.id, u.note, u.amt)",
    )
    assert n == 2
    got = {r.id: r.note for r in read_txtable(spark, t).collect()}
    assert got[1] == "x" and got[9] == "n"
    # the simple SET */INSERT * path accepts no-AS aliases too
    n = txtable_sql(
        spark,
        f"MERGE INTO txtable.`{t}` t USING gram_updates u "
        "ON t.id = u.id WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert n >= 2


def test_alter_add_columns_plural(spark, t):
    txtable_sql(
        spark,
        f"ALTER TABLE txtable.`{t}` ADD COLUMNS (score DOUBLE, tag STRING)",
    )
    cols = read_txtable(spark, t).columns
    assert "score" in cols and "tag" in cols
    with pytest.raises(UnsupportedSqlError, match="ADD COLUMNS item"):
        txtable_sql(
            spark, f"ALTER TABLE txtable.`{t}` ADD COLUMNS (justaname)"
        )


def test_struct_and_map_column_lists_split_at_top_level(spark, tmp_path):
    """Column-definition lists split only at top-level commas: the inner
    comma of ``STRUCT<x:INT,y:INT>`` or ``MAP<STRING,INT>`` belongs to
    the type, so NOT NULL and DEFAULT land on the struct column itself
    and ADD COLUMNS adds whole struct and map columns."""
    from data_pipeline_demo_spark.sinks.sql_dml import (
        _extract_generated_columns,
    )

    _, _, _, defaults, not_null = _extract_generated_columns(
        "id BIGINT, s STRUCT<x:INT,y:INT> NOT NULL", lambda x: x
    )
    assert not_null == ["s"] and defaults == {}
    _, _, _, defaults, not_null = _extract_generated_columns(
        "id BIGINT, s STRUCT<x:INT,y:INT> "
        "DEFAULT named_struct('x', 1, 'y', 2)",
        lambda x: x,
    )
    assert list(defaults) == ["s"] and not_null == []

    root = str(tmp_path / "nested")
    txtable_sql(
        spark,
        f"CREATE TABLE txtable.`{root}` (id BIGINT, "
        "s STRUCT<x:INT,y:INT> NOT NULL) KEY id BUCKETS 2",
    )
    assert list(table_constraints(spark, root)) == ["nn_s"]
    assert read_txtable(spark, root).columns == ["id", "s"]
    txtable_sql(
        spark,
        f"ALTER TABLE txtable.`{root}` ADD COLUMNS "
        "(p STRUCT<a:INT,b:INT>, m MAP<STRING,INT>, c INT)",
    )
    types = dict(read_txtable(spark, root).dtypes)
    assert types["p"] == "struct<a:int,b:int>"
    assert types["m"] == "map<string,int>"
    assert types["c"] == "int"


def test_insert_named_struct_into_struct_column(spark, tmp_path):
    """A ``named_struct`` literal's fields are NOT NULL while the
    table's are nullable: the types differ only in nested nullability,
    so the INSERT stores (cast to the table type) instead of raising a
    schema conflict, and the table schema keeps its nullable fields."""
    root = str(tmp_path / "nested_ins")
    txtable_sql(
        spark,
        f"CREATE TABLE txtable.`{root}` (id BIGINT, "
        "s STRUCT<x:INT,y:INT> NOT NULL) KEY id BUCKETS 2",
    )
    txtable_sql(
        spark,
        f"INSERT INTO txtable.`{root}` VALUES (1, named_struct('x', 1, 'y', 2))",
    )
    df = read_txtable(spark, root)
    assert [(r["id"], r["s"]["x"], r["s"]["y"]) for r in df.collect()] == [(1, 1, 2)]
    assert all(f.nullable for f in df.schema["s"].dataType.fields)


def test_restore_short_forms(spark, t):
    txtable_sql(spark, f"UPDATE txtable.`{t}` SET amt = amt + 1")
    # Databricks allows RESTORE without TABLE and without TO
    v = txtable_sql(spark, f"RESTORE txtable.`{t}` VERSION AS OF 0")
    assert isinstance(v, int)
    got = {r.id: r.amt for r in read_txtable(spark, t).collect()}
    assert got[1] == 10.0


def test_precise_refusals_for_common_delta_ddl(spark, t):
    cases = [
        (
            "CREATE TABLE txtable.`/x/new` (id BIGINT) USING DELTA",
            "already transactional",
        ),
        (
            "CREATE TABLE txtable.`/x/new2` (id BIGINT) "
            "PARTITIONED BY (id)",
            "hash-bucketed",
        ),
        (
            f"MERGE INTO txtable.`{t}` t USING gram_x u "
            "ON t.id = u.id AND t.note = u.note "
            "WHEN MATCHED THEN DELETE",
            "single key equality",
        ),
    ]
    for stmt, frag in cases:
        with pytest.raises(UnsupportedSqlError, match=frag):
            txtable_sql(spark, stmt)
