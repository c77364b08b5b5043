"""Merge-on-read DELETE via deletion vectors (sinks/txlog.py):
MOR ≡ COW results, no data-file rewrites, materialization on every
rewrite verb, CDC/time-travel/restore interplay, protocol gates, and
vacuum lifecycle."""

import json

import pytest
from pyspark.sql import functions as F

from data_pipeline_demo_spark.sinks.txlog import (
    UnsupportedTableFeatureError,
    _read_buckets_logical,
    _read_dvs,
    compact_txtable,
    read_txtable,
    restore_txtable,
    shallow_clone_txtable,
    txlog_delete,
    txlog_update,
    txlog_upsert,
    txtable_changes,
    txtable_history,
    vacuum_txtable,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "id long, v string")


def _as_dict(df):
    return {r["id"]: r["v"] for r in df.collect()}


def _manifest(tmp_path, name, version):
    return json.loads(
        (tmp_path / name / "_commits" / f"{version:020d}.json").read_text()
    )


def _fresh(spark, tmp_path, name="tx", n=40, num_buckets=4):
    root = str(tmp_path / name)
    txlog_upsert(
        spark,
        _rows(spark, [(i, f"v{i}") for i in range(n)]),
        root,
        num_buckets=num_buckets,
    )
    return root


def test_mor_delete_by_keys_no_file_rewrite(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    m0 = _manifest(tmp_path, "tx", 0)
    n = txlog_delete(
        spark,
        root,
        keys=spark.createDataFrame([(3,), (7,), (999,)], "id long"),
        mode="merge-on-read",
    )
    assert n == 2  # 999 never existed
    m1 = _manifest(tmp_path, "tx", 1)
    # zero data files rewritten — identical bucket file lists
    assert m1["buckets"] == m0["buckets"]
    assert m1["row_counts"] == m0["row_counts"]
    assert m1["requires"] == ["deletion-vectors"]
    assert sum(m1["dv_counts"].values()) == 2
    got = _as_dict(read_txtable(spark, root))
    assert set(got) == set(range(40)) - {3, 7}
    # time travel still sees the deleted rows
    assert len(_as_dict(read_txtable(spark, root, version=0))) == 40
    # history reports logical rows
    assert [h["rows"] for h in txtable_history(spark, root)] == [40, 38]


def test_mor_delete_matches_cow_delete(spark, tmp_path):
    keys = spark.createDataFrame([(i,) for i in range(0, 40, 5)], "id long")
    mor = _fresh(spark, tmp_path, "mor")
    cow = _fresh(spark, tmp_path, "cow")
    n1 = txlog_delete(spark, mor, keys=keys, mode="merge-on-read")
    n2 = txlog_delete(spark, cow, keys=keys)  # copy-on-write default
    assert n1 == n2 == 8
    assert _as_dict(read_txtable(spark, mor)) == _as_dict(
        read_txtable(spark, cow)
    )


def test_logical_read_build_runs_no_jobs(spark, tmp_path, jobs_during):
    """Building the logical bucket read ``lookup_with_index`` uses runs
    no Spark job on a table with deletion vectors: the vectors are read
    under their fixed schema, not inferred."""
    root = _fresh(spark, tmp_path)
    txlog_delete(
        spark,
        root,
        keys=spark.createDataFrame([(3,), (7,)], "id long"),
        mode="merge-on-read",
    )
    m = _manifest(tmp_path, "tx", 1)
    built = []
    assert (
        jobs_during(
            lambda: built.append(
                _read_buckets_logical(spark, root, m, list(m["buckets"]))
            )
        )
        == 0
    )
    assert _as_dict(built[0]) == {
        i: f"v{i}" for i in range(40) if i not in (3, 7)
    }


def test_read_dvs_reads_both_layouts(spark, tmp_path):
    """``_read_dvs`` returns exactly (__dv_file, __dv_pos) from the flat
    layout and from the per-bucket ``__bucket=N`` layout a broad delete
    writes."""
    root = str(tmp_path / "tx")
    doomed = spark.createDataFrame(
        [("a.parquet", 1, 0), ("b.parquet", 5, 2)],
        "__dv_file string, __dv_pos long, __bucket int",
    )
    doomed.drop("__bucket").repartition(1).write.parquet(f"{root}/dv/flat")
    doomed.write.partitionBy("__bucket").parquet(f"{root}/dv/split")
    for layout in ("flat", "split"):
        rels = sorted(
            str(p.relative_to(root))
            for p in (tmp_path / "tx" / "dv" / layout).rglob("*.parquet")
        )
        df = _read_dvs(spark, root, rels)
        assert df.columns == ["__dv_file", "__dv_pos"]
        assert sorted(df.collect()) == [("a.parquet", 1), ("b.parquet", 5)]


def test_mor_predicate_delete_and_stacking(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    assert (
        txlog_delete(spark, root, where="id >= 30", mode="merge-on-read")
        == 10
    )
    # second MOR delete stacks; already-deleted rows never re-match
    assert (
        txlog_delete(spark, root, where="id >= 20", mode="merge-on-read")
        == 10
    )
    # no-match predicate: no version churn
    v_before = txtable_history(spark, root)[-1]["version"]
    assert (
        txlog_delete(spark, root, where="id >= 20", mode="merge-on-read")
        == 0
    )
    assert txtable_history(spark, root)[-1]["version"] == v_before
    assert set(_as_dict(read_txtable(spark, root))) == set(range(20))


def test_merge_materializes_touched_bucket_dvs(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(
        spark,
        root,
        keys=spark.createDataFrame([(i,) for i in range(40)], "id long"),
        mode="merge-on-read",
    )  # delete EVERYTHING via DVs; every bucket carries a vector
    # merge one row back: its bucket materializes (deleted rows must
    # NOT resurrect), other buckets keep their vectors
    txlog_upsert(spark, _rows(spark, [(1, "back")]), root)
    got = _as_dict(read_txtable(spark, root))
    assert got == {1: "back"}
    m = _manifest(tmp_path, "tx", 2)
    assert m.get("requires") == ["deletion-vectors"]  # other buckets still
    # the merged bucket's DV entry is gone
    from data_pipeline_demo_spark.sources.pushdown import bucket_of_literal

    b1 = bucket_of_literal(1, 4, "int64")
    assert str(b1) not in m.get("bucket_dvs", {})


def test_update_after_mor_delete(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(spark, root, where="id < 5", mode="merge-on-read")
    n = txlog_update(spark, root, set={"v": "'X'"}, where="id < 10")
    assert n == 5  # ids 0-4 are logically gone
    got = _as_dict(read_txtable(spark, root))
    assert set(got) == set(range(5, 40))
    assert all(got[i] == "X" for i in range(5, 10))


def test_cow_delete_after_mor_counts_logical(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(spark, root, where="id < 10", mode="merge-on-read")
    # COW delete over overlapping range: only logically-live rows count
    assert txlog_delete(spark, root, where="id < 20") == 10
    assert set(_as_dict(read_txtable(spark, root))) == set(range(20, 40))


def test_compact_materializes_and_vacuum_sweeps(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(spark, root, where="id % 2 = 0", mode="merge-on-read")
    assert compact_txtable(spark, root, min_files=2) > 0
    m = _manifest(tmp_path, "tx", 2)
    assert "requires" not in m and "bucket_dvs" not in m
    assert sum(m["row_counts"].values()) == 20
    got = set(_as_dict(read_txtable(spark, root)))
    assert got == {i for i in range(40) if i % 2}
    # vacuum to the newest version: DV sidecars are unreferenced now
    vacuum_txtable(spark, root, keep_last=1)
    dv_dir = tmp_path / "tx" / "dv"
    leftover = (
        [p for p in dv_dir.rglob("*.parquet")] if dv_dir.exists() else []
    )
    assert leftover == []
    assert set(_as_dict(read_txtable(spark, root))) == got


def test_vacuum_keeps_live_dvs(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(spark, root, where="id < 3", mode="merge-on-read")
    vacuum_txtable(spark, root, keep_last=1)  # newest manifest HAS DVs
    assert set(_as_dict(read_txtable(spark, root))) == set(range(3, 40))


def test_cdc_sees_mor_delete(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(
        spark,
        root,
        keys=spark.createDataFrame([(5,), (6,)], "id long"),
        mode="merge-on-read",
    )
    ch = txtable_changes(spark, root, from_version=0).collect()
    assert sorted((r["id"], r["_change_type"]) for r in ch) == [
        (5, "delete"),
        (6, "delete"),
    ]


def test_restore_across_mor_delete(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(spark, root, where="id < 10", mode="merge-on-read")
    restore_txtable(spark, root, version=0)
    assert len(_as_dict(read_txtable(spark, root))) == 40
    # restore TO the DV version carries the vectors
    restore_txtable(spark, root, version=1)
    assert len(_as_dict(read_txtable(spark, root))) == 30


def test_shallow_clone_refuses_dvs(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(spark, root, where="id < 10", mode="merge-on-read")
    with pytest.raises(UnsupportedTableFeatureError):
        shallow_clone_txtable(spark, root, str(tmp_path / "clone"))


def test_python_reader_applies_dvs(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(spark, root, where="id < 10", mode="merge-on-read")
    txlog_delete(
        spark,
        root,
        keys=spark.createDataFrame([(20,), (21,)], "id long"),
        mode="merge-on-read",
    )
    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )

    register_txtable_source(spark)
    got = {
        r["id"]: r["v"]
        for r in spark.read.format("txtable").load(root).collect()
    }
    assert got == _as_dict(read_txtable(spark, root))
    assert set(got) == set(range(10, 40)) - {20, 21}
    # pushdown-pruned point read still anti-applies the vectors
    pt = (
        spark.read.format("txtable")
        .load(root)
        .filter("id = 21 or id = 22")
        .collect()
    )
    assert [r["id"] for r in pt] == [22]
    # the python CDC feed diffs LOGICAL rows: parity with the JVM feed
    py_ch = sorted(
        (r["id"], r["_change_type"])
        for r in spark.read.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(root)
        .collect()
    )
    jvm_ch = sorted(
        (r["id"], r["_change_type"])
        for r in txtable_changes(spark, root, from_version=0).collect()
    )
    assert py_ch == jvm_ch
    assert py_ch == [(i, "delete") for i in list(range(10)) + [20, 21]]


def test_python_writer_append_carries_dvs(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    txlog_delete(spark, root, where="id < 10", mode="merge-on-read")
    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )

    register_txtable_source(spark)
    add = spark.createDataFrame([(100, "new")], "id long, v string")
    add.write.format("txtable").mode("append").save(root)
    got = _as_dict(read_txtable(spark, root))
    assert set(got) == set(range(10, 40)) | {100}  # deletes preserved


def test_mor_unknown_feature_refused(spark, tmp_path):
    root = _fresh(spark, tmp_path)
    # hand-craft a manifest requiring an unknown feature
    m = _manifest(tmp_path, "tx", 0)
    m["version"] = 1
    m["requires"] = ["quantum-compression"]
    (tmp_path / "tx" / "_commits" / f"{1:020d}.json").write_text(
        json.dumps(m)
    )
    with pytest.raises(UnsupportedTableFeatureError):
        read_txtable(spark, root)
    with pytest.raises(UnsupportedTableFeatureError):
        txlog_upsert(spark, _rows(spark, [(1, "x")]), root)


def test_streaming_cdc_sees_mor_delete(spark, tmp_path):
    """A merge-on-read DELETE committed while a txtable change-feed
    stream runs surfaces as delete rows in the next micro-batch —
    the python stream reader diffs LOGICAL rows (DV-aware), so the
    downstream maintenance jobs see point deletes without any file
    rewrite ever happening."""
    import time

    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )

    register_txtable_source(spark)
    root = _fresh(spark, tmp_path, n=20)
    q = (
        spark.readStream.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(root)
        .writeStream.format("memory")
        .queryName("dv_cdc")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # startingVersion=0 = base snapshot v0: the feed carries only
        # LATER commits — the MOR delete below is the first one
        txlog_delete(
            spark,
            root,
            keys=spark.createDataFrame([(4,), (9,)], "id long"),
            mode="merge-on-read",
        )
        deadline = time.time() + 90
        while time.time() < deadline and spark.table("dv_cdc").count() < 2:
            time.sleep(1)
        got = {
            (r["id"], r["_change_type"])
            for r in spark.table("dv_cdc").collect()
            if r["_change_type"] == "delete"
        }
        assert got == {(4, "delete"), (9, "delete")}
    finally:
        q.stop()


def test_mor_update_matches_cow_update(spark, tmp_path):
    """Merge-on-read UPDATE: vectors the old rows, APPENDS the new
    images — results identical to copy-on-write, no bucket file
    replaced (old refs all still present), CDC shows updates."""
    mor = _fresh(spark, tmp_path, "mor")
    cow = _fresh(spark, tmp_path, "cow")
    m0 = _manifest(tmp_path, "mor", 0)
    n1 = txlog_update(
        spark, mor, set={"v": "upper(v)"}, where="id % 3 = 0",
        mode="merge-on-read",
    )
    n2 = txlog_update(spark, cow, set={"v": "upper(v)"}, where="id % 3 = 0")
    assert n1 == n2 == 14
    assert _as_dict(read_txtable(spark, mor)) == _as_dict(
        read_txtable(spark, cow)
    )
    m1 = _manifest(tmp_path, "mor", 1)
    for b, rels in m0["buckets"].items():
        assert set(rels) <= set(m1["buckets"][b])  # appended, not replaced
    assert m1["requires"] == ["deletion-vectors"]
    ch = txtable_changes(spark, mor, from_version=0).collect()
    assert sorted(r["id"] for r in ch) == [i for i in range(40) if i % 3 == 0]
    assert {r["_change_type"] for r in ch} == {"update"}


def test_mor_update_keeps_zone_maps_and_blooms(spark, tmp_path):
    """A merge-on-read UPDATE keeps the touched bucket's zone map, null
    counts and Bloom filter, merged with the appended images'
    (vectored rows stay in their files, so the physical bookkeeping
    stays exact); pruned reads then return exactly the rows a filtered
    full scan returns."""
    root = str(tmp_path / "sb")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(i, i % 10, f"s{i}") for i in range(40)],
            "id long, n long, s string",
        ),
        root,
        num_buckets=4,
        stats_columns=["n"],
        bloom_columns=["s"],
    )
    n = txlog_update(
        spark,
        root,
        set={"n": "n + 100", "s": "concat('u', s)"},
        where="id = 7",
        mode="merge-on-read",
    )
    assert n == 1
    m0, m1 = _manifest(tmp_path, "sb", 0), _manifest(tmp_path, "sb", 1)
    touched = [
        b for b, rels in m1["buckets"].items()
        if len(rels) > len(m0["buckets"][b])
    ]
    assert len(touched) == 1
    b = touched[0]
    lo, hi = m1["bucket_stats"][b]["n"]
    assert lo == m0["bucket_stats"][b]["n"][0] and hi == 107
    assert m1["bucket_nulls"][b] == {"n": 0}
    assert m1["bucket_blooms"][b]["s"] != m0["bucket_blooms"][b]["s"]
    full = read_txtable(spark, root)
    for lo, hi in [(100, 200), (0, 5), (7, 7), (107, 107)]:
        want = sorted(
            r["id"] for r in full.filter(F.col("n").between(lo, hi)).collect()
        )
        got = sorted(
            r["id"]
            for r in read_txtable(
                spark, root, prune_between={"n": (lo, hi)}
            ).collect()
        )
        assert got == want, (lo, hi)
    for v in ["us7", "s7", "s8"]:
        want = [r["id"] for r in full.filter(F.col("s") == v).collect()]
        got = [
            r["id"]
            for r in read_txtable(spark, root, bloom_eq={"s": v}).collect()
        ]
        assert got == want, v


def test_mor_update_then_verbs(spark, tmp_path):
    """Stacked MOR update → MOR delete → MERGE → compact: every verb
    consumes the mixed appended+vectored state correctly."""
    root = _fresh(spark, tmp_path)
    txlog_update(
        spark, root, set={"v": "'U'"}, where="id < 10", mode="merge-on-read"
    )
    # updated rows are live under their new values; update them AGAIN
    assert (
        txlog_update(
            spark, root, set={"v": "v || '2'"}, where="v = 'U'",
            mode="merge-on-read",
        )
        == 10
    )
    assert (
        txlog_delete(spark, root, where="id in (0, 1)", mode="merge-on-read")
        == 2
    )
    got = _as_dict(read_txtable(spark, root))
    assert set(got) == set(range(2, 40))
    assert all(got[i] == "U2" for i in range(2, 10))
    txlog_upsert(spark, _rows(spark, [(2, "m")]), root)
    assert _as_dict(read_txtable(spark, root))[2] == "m"
    compact_txtable(spark, root, min_files=2)
    m = _manifest(
        tmp_path, "tx", txtable_history(spark, root)[-1]["version"]
    )
    assert "bucket_dvs" not in m
    got = _as_dict(read_txtable(spark, root))
    assert set(got) == set(range(2, 40)) and got[2] == "m" and got[5] == "U2"


def test_sql_mor_update_hint(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql

    root = _fresh(spark, tmp_path)
    n = txtable_sql(
        spark,
        f"UPDATE /*+ MERGE_ON_READ */ txtable.`{root}` "
        "SET v = 'X' WHERE id = 7",
    )
    assert n == 1
    assert _as_dict(read_txtable(spark, root))[7] == "X"
    m = _manifest(tmp_path, "tx", 1)
    assert m.get("requires") == ["deletion-vectors"]


def test_uri_fs_path_matches_spark_spelling():
    """Pin the probed java.net.URI spelling: space/%/# encode; RFC-2396
    pchar punctuation and non-ASCII stay raw; plain paths are identity."""
    from data_pipeline_demo_spark.sinks.txlog import _uri_fs_path

    assert _uri_fs_path("/tmp/plain/part-0.parquet") == (
        "/tmp/plain/part-0.parquet"
    )
    assert _uri_fs_path("/a b/c%d/e#f") == "/a%20b/c%25d/e%23f"
    # probed on this runtime (round 11): café 中 & = ; , ' ( ) ! ~ $ @ : +
    # all pass through untouched
    assert _uri_fs_path("/café 中&=;,'()!~$@:+/x") == (
        "/café%20中&=;,'()!~$@:+/x"
    )


@pytest.mark.parametrize("dirname", ["spa ce dir", "pct%dir", "café 中"])
def test_mor_delete_update_on_special_char_path(spark, tmp_path, dirname):
    """Merge-on-read verbs on table roots whose paths percent-encode in
    Spark's `_metadata.file_path` (spaces, '%', non-ASCII): the file-ref
    lookup now keys on the URI spelling, so the former loud refusal is
    gone and MOR ≡ COW holds on these paths too."""
    root = str(tmp_path / dirname / "t")
    txlog_upsert(
        spark,
        _rows(spark, [(i, f"v{i}") for i in range(20)]),
        root,
        num_buckets=4,
    )
    n = txlog_delete(
        spark,
        root,
        keys=spark.createDataFrame([(3,), (7,)], "id long"),
        mode="merge-on-read",
    )
    assert n == 2
    got = _as_dict(read_txtable(spark, root))
    assert len(got) == 18 and 3 not in got and 7 not in got
    # stacking a MOR update on the same spacey root (update rewrites via
    # DV-append too) and a predicate MOR delete
    n = txlog_update(
        spark, root, set={"v": "'X'"}, where="id = 5", mode="merge-on-read"
    )
    assert n == 1
    n = txlog_delete(spark, root, where="id >= 18", mode="merge-on-read")
    assert n == 2
    got = _as_dict(read_txtable(spark, root))
    assert got[5] == "X" and len(got) == 16
