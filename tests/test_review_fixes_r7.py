"""Round-7 self-review regressions: decimal zone-map compare, restore
feature gate, watermark-skip logical counts, empty-table python read,
CDF schema authority (no tombstone resurrection), python CDC rebucket
gate, bloom probe type validation, deep-clone metadata carry."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from data_pipeline_demo_spark.sinks.txlog import (
    UnsupportedTableFeatureError,
    deep_clone_txtable,
    read_txtable,
    rebucket_txtable,
    txlog_delete,
    txlog_drop_column,
    txlog_upsert,
)


def _reg(spark):
    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )

    register_txtable_source(spark)


def test_decimal_zone_map_prunes_by_value_not_lexicographically(
    spark, tmp_path
):
    """Stringified decimal stats must compare as NUMBERS: a bucket
    holding 9.50..12.00 intersects [10, 11] even though '9.50' >
    '12.00' lexicographically."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, Decimal("9.50")), (2, Decimal("10.50")), (3, Decimal("12.00"))],
        "id long, amount decimal(18,2)",
    )
    txlog_upsert(
        spark, df, root, num_buckets=1, stats_columns=["amount"]
    )
    got = read_txtable(
        spark,
        root,
        prune_between={"amount": (Decimal("10"), Decimal("11"))},
    ).collect()
    assert [r["id"] for r in got] == [2]
    # and a truly-disjoint range still prunes (no file IO → empty)
    assert (
        read_txtable(
            spark,
            root,
            prune_between={"amount": (Decimal("50"), Decimal("60"))},
        ).count()
        == 0
    )


def test_restore_refuses_unknown_required_feature(spark, tmp_path):
    import json

    root = str(tmp_path / "t")
    txlog_upsert(
        spark, spark.createDataFrame([(1, "a")], "id long, v string"), root
    )
    m = json.loads((tmp_path / "t/_commits" / f"{0:020d}.json").read_text())
    m["version"] = 1
    m["requires"] = ["quantum-compression"]
    (tmp_path / "t/_commits" / f"{1:020d}.json").write_text(json.dumps(m))
    m2 = json.loads((tmp_path / "t/_commits" / f"{0:020d}.json").read_text())
    m2["version"] = 2  # normal latest: the restore target is v1
    (tmp_path / "t/_commits" / f"{2:020d}.json").write_text(json.dumps(m2))
    from data_pipeline_demo_spark.sinks.txlog import restore_txtable

    with pytest.raises(UnsupportedTableFeatureError):
        restore_txtable(spark, root, version=1)


def test_txn_watermark_skip_returns_logical_count(spark, tmp_path):
    root = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string"
    )
    n0 = txlog_upsert(spark, rows, root, txn_app_id="app", txn_version=1)
    assert n0 == 10
    txlog_delete(spark, root, where="id < 4", mode="merge-on-read")
    # replayed delivery: skipped by the watermark, LOGICAL count
    n1 = txlog_upsert(spark, rows, root, txn_app_id="app", txn_version=1)
    assert n1 == 6


def test_python_reader_handles_fully_emptied_table(spark, tmp_path):
    _reg(spark)
    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        root,
        num_buckets=2,
    )
    assert txlog_delete(spark, root, where="true") == 2
    # base reader (pushdown off) on a zero-bucket snapshot: empty, no crash
    got = (
        spark.read.format("txtable")
        .option("pushdown", "false")
        .load(root)
        .collect()
    )
    assert got == []


def test_cdf_does_not_resurrect_dropped_column(spark, tmp_path):
    """The change feed's schema comes from the RECORDED schemas, not
    file footers: a tombstoned column never reappears in change rows
    once both window ends post-date the drop."""
    _reg(spark)
    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(1, "a", "123-45-6789")], "id long, v string, ssn string"
        ),
        root,
        num_buckets=2,
    )
    txlog_drop_column(spark, root, "ssn")  # version 1, metadata-only
    txlog_upsert(  # version 2: real row change post-drop
        spark,
        spark.createDataFrame([(1, "A2")], "id long, v string"),
        root,
    )
    ch = (
        spark.read.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(root)
    )
    assert "ssn" not in ch.columns
    rows = ch.collect()
    assert {(r["id"], r["_change_type"]) for r in rows} == {(1, "update")}


def test_python_cdc_refuses_rebucket_window(spark, tmp_path):
    _reg(spark)
    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, v string"
        ),
        root,
        num_buckets=2,
    )
    rebucket_txtable(spark, root, 8)
    with pytest.raises(Exception, match="bucket-count change"):
        (
            spark.read.format("txtable")
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            .load(root)
            .collect()
        )
    # the JVM feed handles the same window: rows unchanged → empty diff
    from data_pipeline_demo_spark.sinks.txlog import txtable_changes

    assert txtable_changes(spark, root, from_version=0).count() == 0


def test_bloom_probe_type_mismatch_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(1, 5.0), (2, 6.5)], "id long, price double"
        ),
        root,
        num_buckets=2,
        bloom_columns=["price"],
    )
    with pytest.raises(ValueError, match="CAST rendering"):
        read_txtable(spark, root, bloom_eq={"price": 5})
    # the documented escape hatch: the exact Spark CAST string works
    got = read_txtable(spark, root, bloom_eq={"price": "5.0"}).collect()
    assert [r["id"] for r in got] == [1]


def test_deep_clone_carries_generated_columns_and_tombstones(
    spark, tmp_path
):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(1, 4.0, 8.0), (2, 3.0, 6.0)], "id long, a double, dbl double"
        ),
        src,
        generated_columns={"dbl": "a * 2"},
    )
    deep_clone_txtable(spark, src, tgt)
    # a divergent provided value must now be REJECTED on the clone too
    with pytest.raises(ValueError, match="generated column"):
        txlog_upsert(
            spark,
            spark.createDataFrame(
                [(3, 1.0, 99.0)], "id long, a double, dbl double"
            ),
            tgt,
        )
    # and an omitted one computes
    txlog_upsert(
        spark,
        spark.createDataFrame([(3, 5.0)], "id long, a double"),
        tgt,
    )
    got = {r["id"]: r["dbl"] for r in read_txtable(spark, tgt).collect()}
    assert got[3] == 10.0


def test_sql_literal_whitespace_and_where_in_literal(spark, tmp_path):
    """String literals survive normalization byte-for-byte, and a
    'where' INSIDE a literal never splits the statement."""
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql

    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        root,
    )
    n = txtable_sql(
        spark,
        f"UPDATE txtable.`{root}` SET v = 'x  where  y' WHERE id = 1",
    )
    assert n == 1
    got = {r["id"]: r["v"] for r in read_txtable(spark, root).collect()}
    assert got[1] == "x  where  y"  # double spaces intact, not split
    assert (
        txtable_sql(
            spark, f"DELETE FROM txtable.`{root}` WHERE v = 'x  where  y'"
        )
        == 1
    )


def test_sql_merge_on_wrong_key_refused(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql

    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, "a")], "id long, v string"),
        root,
    )
    spark.createDataFrame(
        [("a", 9)], "v string, id long"
    ).createOrReplaceTempView("wrongkey_src")
    with pytest.raises(ValueError, match="key"):
        txtable_sql(
            spark,
            f"MERGE INTO txtable.`{root}` AS t USING wrongkey_src AS s "
            "ON t.v = s.v "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        )


def test_sql_nmbs_phrase_in_literal_does_not_sync_delete(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql

    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        root,
    )
    # the NMBS phrase only appears inside the USING subquery's literal:
    # the merge must NOT delete unmatched target rows
    txtable_sql(
        spark,
        f"MERGE INTO txtable.`{root}` AS t USING "
        "(SELECT CAST(9 AS BIGINT) AS id, "
        "'WHEN NOT MATCHED BY SOURCE THEN DELETE' AS v) AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    assert set(
        r["id"] for r in read_txtable(spark, root).collect()
    ) == {1, 2, 3, 9}


def test_decimal_stats_widen_by_value_in_python_writer(spark, tmp_path):
    """Two python-writer appends to one bucket with decimal stats:
    the merged bound must be the VALUE max (12.00), not the lexical
    '9.50'."""
    from data_pipeline_demo_spark.sources.txtable_writer import (
        write_txtable,
    )

    root = str(tmp_path / "t")
    a = spark.createDataFrame(
        [(1, Decimal("9.50"))], "id long, amount decimal(18,2)"
    )
    b = spark.createDataFrame(
        [(2, Decimal("12.00"))], "id long, amount decimal(18,2)"
    )
    write_txtable(
        a, root, key="id", num_buckets=1, stats_columns=["amount"]
    )
    write_txtable(b, root, key="id", num_buckets=1, mode="append")
    got = read_txtable(
        spark,
        root,
        prune_between={"amount": (Decimal("11"), Decimal("13"))},
    ).collect()
    assert [r["id"] for r in got] == [2]


def test_index_lookup_bool_rendering(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.value_index import (
        lookup_with_index,
        refresh_value_index,
    )

    root = str(tmp_path / "t")
    ix = str(tmp_path / "ix")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(1, True), (2, False), (3, True)], "id long, flag boolean"
        ),
        root,
    )
    refresh_value_index(spark, root, ix, "flag")
    got = {
        r["id"]
        for r in lookup_with_index(
            spark, root, ix, "flag", True, require_fresh=True
        ).collect()
    }
    assert got == {1, 3}
    with pytest.raises(ValueError, match="CAST"):
        lookup_with_index(spark, root, ix, "flag", 1.5)


def test_skyline_nan_rows_excluded(spark):
    from data_pipeline_demo_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(
        [(1.0, 2.0, 1), (float("nan"), 9.0, 2), (0.5, float("nan"), 3)],
        "x double, y double, id int",
    )
    got = [r.id for r in skyline_2d(df, "x", "y").collect()]
    assert got == [1]


def test_seqmine_null_event_type_excluded(spark):
    import datetime as dt

    from data_pipeline_demo_spark.operators.seqmine import gap_sequences

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, "a", t0),
            (1, None, t0 + dt.timedelta(seconds=5)),
            (1, "b", t0 + dt.timedelta(seconds=10)),
        ],
        "user_id int, event_type string, ts timestamp",
    )
    got = {
        (r.pattern, r.length): r.support
        for r in gap_sequences(df, max_gap_s=60).collect()
    }
    # no null pattern, no 'a' emitted twice via concat_ws collapse
    assert got == {
        ("a", 1): 1,
        ("b", 1): 1,
        ("a>b", 2): 1,
    }


def test_python_pushdown_null_counts_and_decimal_bounds(spark, tmp_path):
    """The python reader's planning-time pruning uses null counts for
    Spark's own IsNull/IsNotNull pushed filters, and compares decimal
    zone-map bounds by value (never lexically) — both exact."""
    from data_pipeline_demo_spark.sources.pushdown import prune_bucket_ids
    from pyspark.sql.datasource import IsNotNull, IsNull

    _reg(spark)
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (i, None if i % 4 == 0 else f"v{i}", Decimal(f"{i}.50"))
            for i in range(40)
        ],
        "id long, v string, amount decimal(18,2)",
    )
    txlog_upsert(
        spark, df, root, num_buckets=8, stats_columns=["v", "amount"]
    )
    import json

    m = json.loads((tmp_path / "t/_commits" / f"{0:020d}.json").read_text())
    full = sorted(m["buckets"], key=int)
    # IsNotNull on a column with nulls in every bucket: nothing prunes,
    # results exact; value-level read parity through format("txtable")
    got = (
        spark.read.format("txtable")
        .load(root)
        .filter("v IS NULL")
        .collect()
    )
    assert sorted(r["id"] for r in got) == [i for i in range(40) if i % 4 == 0]
    got2 = (
        spark.read.format("txtable")
        .load(root)
        .filter("v IS NOT NULL AND amount >= 9.5 AND amount <= 11.0")
        .collect()
    )
    assert sorted(r["id"] for r in got2) == [
        i for i in range(40) if i % 4 and Decimal("9.5") <= Decimal(f"{i}.50") <= Decimal("11.0")
    ]
    # direct planner probes: a synthetic all-null / no-null bucket map
    m2 = dict(m)
    m2["bucket_nulls"] = {b: {"v": 0} for b in full}
    assert prune_bucket_ids(m2, [IsNull(("v",))]) == []
    m2["bucket_nulls"] = {
        b: {"v": m["row_counts"][b]} for b in full
    }
    assert prune_bucket_ids(m2, [IsNotNull(("v",))]) == []
    assert prune_bucket_ids(m2, []) == full


def test_python_writer_tracks_null_counts(spark, tmp_path):
    """The python write path records per-bucket null counts (summing
    under append), so python-written tables prune IS NULL probes
    exactly like JVM-written ones."""
    import json

    from data_pipeline_demo_spark.sources.txtable_writer import (
        write_txtable,
    )

    root = str(tmp_path / "t")
    a = spark.createDataFrame(
        [(1, None), (2, "x")], "id long, v string"
    )
    b = spark.createDataFrame([(3, None)], "id long, v string")
    write_txtable(a, root, key="id", num_buckets=2, stats_columns=["v"])
    write_txtable(b, root, key="id", num_buckets=2, mode="append")
    m = json.loads((tmp_path / "t/_commits" / f"{1:020d}.json").read_text())
    assert sum(
        st.get("v", 0) for st in m.get("bucket_nulls", {}).values()
    ) == 2
    got = {
        r["id"]
        for r in read_txtable(
            spark, root, prune_is_null={"v": True}
        ).collect()
    }
    assert got == {1, 3}
    assert {
        r["id"]
        for r in read_txtable(
            spark, root, prune_is_null={"v": False}
        ).collect()
    } == {2}
