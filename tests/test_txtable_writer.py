"""The ``format("txtable")`` write path (sources/txtable_writer.py):
vectorized writer-parity bucketing, batch append/overwrite through
``df.write``, zone-map maintenance, the python-side content-atomic
manifest claim (including a real two-thread commit race), and the
streaming sink's log-enforced exactly-once.

The load-bearing property throughout: a python-written table is
INDISTINGUISHABLE from a JVM-written one — ``txlog_upsert`` MERGEs
into it (bucket hash parity), ``read_txtable`` prunes it (stat format
parity), and the change feed diffs it (layout parity).
"""

from __future__ import annotations

import io
import json
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_pipeline_demo_spark.sinks.txlog import (
    read_txtable,
    txlog_upsert,
    txtable_changes,
)
from data_pipeline_demo_spark.sources.pushdown import bucket_of_literal, xxh64
from data_pipeline_demo_spark.sources.txtable_source import _read_manifest
from data_pipeline_demo_spark.sources.txtable_writer import (
    _fs_root,
    _resolve_table_spec,
    _TxFiles,
    bucket_ids_for,
    commit_files,
    put_manifest_if_absent,
)


@pytest.fixture(scope="module")
def registered(spark):
    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )

    register_txtable_source(spark)
    return spark


# ---------------------------------------------------------------------------
# Vectorized hash parity (no Spark needed).
# ---------------------------------------------------------------------------


def test_vectorized_hash_parity_int64():
    import pyarrow as pa

    vals = [0, 1, -1, 42, -(2**63), 2**63 - 1, 123456789012345, -987654321]
    got = bucket_ids_for(pa.array(vals, pa.int64()), "int64", 32)
    want = [bucket_of_literal(v, 32, "int64") for v in vals]
    assert list(got) == want


def test_vectorized_hash_parity_int32():
    import pyarrow as pa

    vals = [0, 1, -1, 42, -(2**31), 2**31 - 1, 7_654_321]
    got = bucket_ids_for(pa.array(vals, pa.int32()), "int32", 16)
    want = [bucket_of_literal(v, 16, "int32") for v in vals]
    assert list(got) == want


def test_string_and_null_keys():
    import pyarrow as pa

    vals = ["a", None, "payment-123", "", "日本語"]
    got = list(bucket_ids_for(pa.array(vals, pa.string()), "string", 8))
    # null key parity: Spark's xxhash64 skips nulls (hash = seed = 42),
    # so the JVM _bucket_of lands null keys at 42 % n — NOT 0 (its
    # coalesce never fires). Round-7 fix; asserted vs Spark below.
    assert got[1] == 42 % 8
    for v, b in zip(vals, got):
        if v is not None:
            assert b == bucket_of_literal(v, 8, "string")


def test_vectorized_string_hash_boundaries(spark):
    """Spark ground truth for the length-grouped vectorized string hash
    across every XXH64 code-path boundary: empty, tail-only (<4), one
    4-byte word, 8-byte lanes, the 32-byte stripe threshold, multi-
    stripe, plus multibyte UTF-8 — and the same values through
    large_string and a sliced (non-zero-offset) array."""
    import pyarrow as pa

    from data_pipeline_demo_spark.sources.txtable_writer import xxh64_strings

    vals = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "abcdefghi", "x" * 15, "x" * 16, "x" * 17, "y" * 31, "z" * 32,
        "z" * 33, "w" * 63, "w" * 64, "w" * 65, "q" * 100,
        "日本語テスト", "påyment-æøå-123", "a\x00b", None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    want = [
        r[0]
        for r in df.select(
            F.coalesce(F.pmod(F.xxhash64("k"), F.lit(32)), F.lit(0)).cast(
                "int"
            )
        ).collect()
    ]
    got = list(bucket_ids_for(pa.array(vals, pa.string()), "string", 32))
    assert got == want
    assert list(bucket_ids_for(pa.array(vals, pa.large_string()), "string", 32)) == want
    # sliced array: non-zero arr.offset must not shift the byte windows
    sliced = pa.array(["pad1", "pad2"] + vals, pa.string()).slice(2)
    assert list(bucket_ids_for(sliced, "string", 32)) == want
    # raw-hash parity vs the scalar spec on a big uniform batch (the
    # contiguous reshape fast path) and a shuffled mixed batch (gather)
    uni = [f"doc-{i:09d}" for i in range(4096)]
    import numpy as np

    assert (
        xxh64_strings(pa.array(uni, pa.string()))
        == np.array([xxh64(v.encode(), 42) for v in uni], np.uint64)
    ).all()


def test_spark_xxhash64_parity(spark):
    """The ground truth: numpy bucketing == pmod(xxhash64(key), nb)
    computed by Spark itself, across the full int64 range."""
    import pyarrow as pa

    vals = [0, 1, -1, 7, 10**17, -(10**17), 2**63 - 1, -(2**63)]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    want = [
        r[0]
        for r in df.select(
            F.coalesce(
                F.pmod(F.xxhash64("k"), F.lit(32)), F.lit(0)
            ).cast("int")
        ).collect()
    ]
    got = list(bucket_ids_for(pa.array(vals, pa.int64()), "int64", 32))
    assert got == want


# ---------------------------------------------------------------------------
# Batch write → JVM interop.
# ---------------------------------------------------------------------------


def _base_df(spark, n=400):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("id") % 60).cast("int")
        ).alias("d"),
    )


def test_append_roundtrip_and_merge_parity(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    (
        _base_df(spark)
        .write.format("txtable")
        .option("key", "k")
        .option("numBuckets", "8")
        .option("statsColumns", "d")
        .mode("append")
        .save(root)
    )
    assert read_txtable(spark, root).count() == 400
    assert spark.read.format("txtable").load(root).count() == 400

    # point lookup through the pruning reader must still find the row
    got = (
        spark.read.format("txtable")
        .load(root)
        .filter(F.col("k") == 123)
        .collect()
    )
    assert [(r.k, r.v) for r in got] == [(123, 246)]

    # JVM MERGE recognizes python-written rows as matches — the bucket
    # parity property: updates, not duplicate inserts
    upd = _base_df(spark).filter(F.col("k") < 50).withColumn(
        "v", F.col("v") + 1
    )
    assert txlog_upsert(spark, upd, root) == 400
    changes = txtable_changes(spark, root, 0, 1)
    by_type = {
        r["_change_type"]: r["count"]
        for r in changes.groupBy("_change_type").count().collect()
    }
    assert by_type == {"update": 50}


def test_string_key_append_and_merge(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "s")
    df = spark.createDataFrame(
        [(f"doc-{i}", i) for i in range(100)], "doc_id string, score int"
    )
    df.write.format("txtable").option("key", "doc_id").option(
        "numBuckets", "4"
    ).mode("append").save(root)
    upd = spark.createDataFrame(
        [(f"doc-{i}", i + 1000) for i in range(10)], "doc_id string, score int"
    )
    assert txlog_upsert(spark, upd, root) == 100  # matched, not appended
    top = (
        read_txtable(spark, root)
        .filter(F.col("score") >= 1000)
        .count()
    )
    assert top == 10


def test_overwrite_and_time_travel(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "o")
    _base_df(spark, 200).write.format("txtable").option("key", "k").mode(
        "append"
    ).save(root)
    _base_df(spark, 10).write.format("txtable").mode("overwrite").save(root)
    assert read_txtable(spark, root).count() == 10
    v0 = spark.read.format("txtable").option("version", "0").load(root)
    assert v0.count() == 200


def test_second_append_widens_zone_maps(registered, tmp_path):
    from datetime import date

    spark = registered
    root = str(tmp_path / "z")
    jan = spark.createDataFrame(
        [(i, date(2024, 1, 1 + i % 20)) for i in range(100)],
        "k long, d date",
    )
    jun = spark.createDataFrame(
        [(1000 + i, date(2024, 6, 1 + i % 20)) for i in range(100)],
        "k long, d date",
    )
    for df in (jan, jun):
        df.write.format("txtable").option("key", "k").option(
            "numBuckets", "4"
        ).option("statsColumns", "d").mode("append").save(root)
    fs, r = _fs_root(root, {})
    m = _read_manifest(fs, r, 1)
    for st in m["bucket_stats"].values():
        lo, hi = st["d"]
        assert lo.startswith("2024-01") and hi.startswith("2024-06")
    # pruned read over only the june window is exact
    got = read_txtable(
        spark, root, prune_between={"d": ("2024-06-01", "2024-06-30")}
    ).filter(F.col("d") >= F.lit("2024-06-01"))
    assert got.count() == 100


def test_decimal_shaped_string_zone_map_widens_lexically(registered, tmp_path):
    """A STRING column whose values parse as numbers ('9.5', '12.0':
    lexical and numeric orders disagree) keeps a lexical zone map
    across a task's slices and across commits, and both pruning readers
    still find '9.5'."""
    spark = registered
    root = str(tmp_path / "zr")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # one slice per row inside each task

    def append(rows):
        spark.createDataFrame(rows, "k long, s string").coalesce(1).write.format(
            "txtable"
        ).option("key", "k").option("numBuckets", "1").option(
            "statsColumns", "s"
        ).mode("append").save(root)

    try:
        append([(1, "9.5"), (2, "12.0")])
        fs, r = _fs_root(root, {})
        assert _read_manifest(fs, r, 0)["bucket_stats"]["0"]["s"] == ["12.0", "9.5"]
        append([(3, "1.0")])
        append([(4, "9.7"), (5, "12.5")])
    finally:
        spark.conf.set(key, old)
    assert _read_manifest(fs, r, 2)["bucket_stats"]["0"]["s"] == ["1.0", "9.7"]
    got = read_txtable(spark, root, prune_between={"s": ("9", "9.9")}).filter(
        F.col("s").between("9", "9.9")
    )
    assert sorted(x.k for x in got.collect()) == [1, 4]
    pushed = spark.read.format("txtable").load(root).filter("s = '9.5'")
    assert [x.k for x in pushed.collect()] == [1]


def test_decimal_probe_on_a_string_column_keeps_the_bucket(registered, tmp_path):
    """A Decimal bound on a STRING column whose lexical zone map is
    ['1.0', '9.5'] must not compare those strings as Decimals: Spark
    finds '12.0' between 10 and 13, so the bucket is kept. The same
    stats on a DECIMAL column do prune."""
    from decimal import Decimal

    from data_pipeline_demo_spark.sources.pushdown import zone_map_buckets

    spark = registered
    root = str(tmp_path / "ds")
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, "9.5"), (2, "12.0"), (3, "1.0")], "k long, s string"),
        root,
        key="k",
        num_buckets=1,
        stats_columns=["s"],
    )
    fs, r = _fs_root(root, {})
    m = _read_manifest(fs, r, 0)
    assert m["bucket_stats"]["0"]["s"] == ["1.0", "9.5"]
    window = {"s": (Decimal("10"), Decimal("13"))}
    assert zone_map_buckets(m, window, ["0"]) == ["0"]
    got = read_txtable(spark, root, prune_between=window)
    assert [x.k for x in got.collect()] == [2]
    as_decimal = {
        **m,
        "schema": [
            {**f, "type": "decimal(10,1)"} if f["name"] == "s" else f
            for f in m["schema"]
        ],
    }
    assert zone_map_buckets(as_decimal, window, ["0"]) == []


def test_append_without_a_stats_column_counts_its_nulls(registered, tmp_path):
    """Rows appended without a declared stats column read NULL there, so
    the bucket's null count must include them: an IS NULL probe that
    trusted a count of 0 would prune them."""
    spark = registered
    root = str(tmp_path / "nn")
    txlog_upsert(
        spark,
        spark.createDataFrame([(i, i) for i in range(4)], "k long, v long"),
        root,
        key="k",
        num_buckets=1,
        stats_columns=["v"],
    )
    spark.createDataFrame([(10,), (11,)], "k long").write.format(
        "txtable"
    ).mode("append").save(root)
    fs, r = _fs_root(root, {})
    assert _read_manifest(fs, r, 1)["bucket_nulls"] == {"0": {"v": 2}}
    got = read_txtable(spark, root, prune_is_null={"v": True})
    assert sorted(x.k for x in got.collect()) == [10, 11]


def test_conflicting_spec_raises(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "c")
    _base_df(spark, 10).write.format("txtable").option("key", "k").mode(
        "append"
    ).save(root)
    with pytest.raises(Exception, match="created with key"):
        _base_df(spark, 10).write.format("txtable").option(
            "key", "v"
        ).mode("append").save(root)


def test_unsupported_key_type_raises(registered, tmp_path):
    spark = registered
    df = spark.createDataFrame([(1.5, "x")], "k double, v string")
    with pytest.raises(Exception, match="txlog_upsert|hashes"):
        df.write.format("txtable").option("key", "k").mode("append").save(
            str(tmp_path / "u")
        )


# ---------------------------------------------------------------------------
# Commit protocol (pure python — no Spark jobs).
# ---------------------------------------------------------------------------


def _field(name: str, type_: str) -> dict:
    return {"name": name, "type": type_, "nullable": True, "metadata": {}}


def _spec():
    return {
        "key": "k",
        "num_buckets": 4,
        "stats_columns": [],
        "schema_fields": [_field("k", "long")],
    }


def test_commit_claim_is_exclusive(tmp_path):
    fs, root = _fs_root(str(tmp_path / "t"), {})
    assert put_manifest_if_absent(fs, root, 0, b"{}") is True
    assert put_manifest_if_absent(fs, root, 0, b"{}") is False


def test_concurrent_appends_both_survive(tmp_path):
    """Two racing appenders: exactly one claims each version, the loser
    retries against the winner's manifest — BOTH file sets end up live."""
    fs, root = _fs_root(str(tmp_path / "t"), {})
    commit_files(
        fs, root, _spec(), [_TxFiles(entries=[(0, "data/base/p.parquet", 1, {}, {}, {})])], False
    )
    barrier = threading.Barrier(2)
    errs = []

    def appender(tag):
        try:
            barrier.wait()
            commit_files(
                fs,
                root,
                _spec(),
                [_TxFiles(entries=[(1, f"data/{tag}/p.parquet", 1, {}, {}, {})])],
                False,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    m = _read_manifest(fs, root, 2)
    assert sorted(m["buckets"]["1"]) == [
        "data/a/p.parquet",
        "data/b/p.parquet",
    ]
    assert m["row_counts"]["1"] == 2


def test_txn_watermark_skips_replay(tmp_path):
    fs, root = _fs_root(str(tmp_path / "t"), {})
    msg = [_TxFiles(entries=[(0, "data/x/p.parquet", 3, {}, {}, {})])]
    assert commit_files(
        fs, root, _spec(), msg, False, txn_app_id="app", txn_version=7
    )
    # replay of the same batch: skipped, no new version
    assert not commit_files(
        fs, root, _spec(), msg, False, txn_app_id="app", txn_version=7
    )
    m = _read_manifest(fs, root, 0)
    assert m["app_txns"] == {"app": 7}
    with pytest.raises(FileNotFoundError):
        _read_manifest(fs, root, 1)
    # a LATER batch commits
    assert commit_files(
        fs, root, _spec(), msg, False, txn_app_id="app", txn_version=8
    )
    assert _read_manifest(fs, root, 1)["app_txns"] == {"app": 8}


def test_widen_drops_ambiguous_decimal_shaped_strings():
    """Every manifest records its schema, so ``decimal=`` is exact and a
    decimal-shaped string pair is never ambiguous: without the decimal
    type it is a STRING column and widens lexically, as Spark compares
    strings ('9.5' beats '12.0'); with it, by value."""
    from data_pipeline_demo_spark.sinks.manifest import widen

    # lexical '12.0' < '9.5' (numeric 12.0 > 9.5): a string column's order
    assert widen(["1.0", "9.5"], ["2.0", "12.0"]) == ["1.0", "9.5"]
    # agreement (same order both ways): safe, widens normally
    assert widen(["1.0", "2.0"], ["1.5", "3.0"]) == ["1.0", "3.0"]
    # non-decimal strings: lexical is the order (dates, ids)
    assert widen(["1994-01-01", "1994-06-01"], ["1994-03-01", "1994-09-01"]) == [
        "1994-01-01",
        "1994-09-01",
    ]
    # with the recorded decimal type: value compare, stat kept
    assert widen(["1.0", "9.5"], ["2.0", "12.0"], decimal=True) == [
        "1.0",
        "12.0",
    ]


def test_legacy_stream_app_id_migration_boundary(tmp_path):
    """Upgrade boundary for the checkpoint-derived default txnAppId: a
    pre-existing query restarting after the default changed replays its
    LAST committed batch under the new id — that exact-equality replay
    of the legacy watermark must skip (exactly-once preserved), while a
    genuinely new query whose early batch ids fall below an old legacy
    watermark must still commit (the shared-id batch-loss bug must not
    come back), and an EXPLICIT app id never consults the fallback."""
    from data_pipeline_demo_spark.sources.txtable_writer import (
        _LEGACY_STREAM_APP_ID,
    )

    fs, root = _fs_root(str(tmp_path / "t"), {})
    msg = [_TxFiles(entries=[(0, "data/x/p.parquet", 3, {}, {}, {})])]
    # pre-upgrade history: legacy fixed id committed through batch 5
    assert commit_files(
        fs, root, _spec(), msg, False,
        txn_app_id=_LEGACY_STREAM_APP_ID, txn_version=5,
    )
    # restart after upgrade: crash-recovery replay of batch 5 under the
    # derived id — skipped, no new version
    assert not commit_files(
        fs, root, _spec(), msg, False,
        txn_app_id="txtable-stream-deadbeef00000000", txn_version=5,
        legacy_txn_fallback=True,
    )
    with pytest.raises(FileNotFoundError):
        _read_manifest(fs, root, 1)
    # the NEXT batch commits and starts the derived id's own watermark
    assert commit_files(
        fs, root, _spec(), msg, False,
        txn_app_id="txtable-stream-deadbeef00000000", txn_version=6,
        legacy_txn_fallback=True,
    )
    m = _read_manifest(fs, root, 1)
    assert m["app_txns"]["txtable-stream-deadbeef00000000"] == 6
    # a NEW query (fresh checkpoint, batch 0 < legacy watermark) commits
    assert commit_files(
        fs, root, _spec(), msg, False,
        txn_app_id="txtable-stream-feedface00000000", txn_version=0,
        legacy_txn_fallback=True,
    )
    # an explicit id equal to the legacy watermark commits (no fallback)
    assert commit_files(
        fs, root, _spec(), msg, False,
        txn_app_id="my-explicit-app", txn_version=5,
    )


class _MemWriteFS:
    """fsspec-shaped in-memory store exercising the non-local claim path
    (exclusive-create 'xb')."""

    store: dict[str, bytes] = {}

    def __init__(self, **options):
        pass

    @staticmethod
    def _key(path):
        return path.split("://", 1)[-1].rstrip("/")

    def makedirs(self, path, exist_ok=False):
        pass

    def exists(self, path):
        return self._key(path) in self.store

    def open(self, path, mode="rb"):
        key = self._key(path)
        if "x" in mode and key in self.store:
            raise FileExistsError(key)
        if "w" in mode or "x" in mode:
            buf = io.BytesIO()
            close = buf.close

            def _close():
                self.store[key] = buf.getvalue()
                close()

            buf.close = _close
            return buf
        return io.BytesIO(self.store[key])

    def ls(self, path, detail=False):
        prefix = self._key(path) + "/"
        return sorted(
            {
                prefix + p[len(prefix):].split("/", 1)[0]
                for p in self.store
                if p.startswith(prefix)
            }
        )

    def isdir(self, path):
        prefix = self._key(path) + "/"
        return any(p.startswith(prefix) for p in self.store)


class _FakeFsspec:
    AbstractFileSystem = object

    @staticmethod
    def filesystem(scheme, **options):
        assert scheme == "memw"
        return _MemWriteFS(**options)


def test_fsspec_claim_exclusive(monkeypatch):
    monkeypatch.setitem(sys.modules, "fsspec", _FakeFsspec)
    _MemWriteFS.store = {}
    fs, root = _fs_root("memw://tbl", {})
    assert put_manifest_if_absent(fs, root, 0, b'{"version": 0}') is True
    assert put_manifest_if_absent(fs, root, 0, b"{}") is False
    stored = json.loads(_MemWriteFS.store["tbl/_commits/" + "0" * 20 + ".json"])
    assert stored == {"version": 0}


def test_fsspec_makedirs_failure_surfaces(monkeypatch):
    """Only 'directory exists / no directories here' is tolerated when
    preparing a path: a permission failure must surface, not be
    swallowed into a later, vaguer error."""

    class _DeniedFS(_MemWriteFS):
        def makedirs(self, path, exist_ok=False):
            raise PermissionError(path)

    class _DeniedFsspec(_FakeFsspec):
        @staticmethod
        def filesystem(scheme, **options):
            return _DeniedFS(**options)

    monkeypatch.setitem(sys.modules, "fsspec", _DeniedFsspec)
    _MemWriteFS.store = {}
    fs, root = _fs_root("memw://tbl", {})
    with pytest.raises(PermissionError):
        put_manifest_if_absent(fs, root, 0, b"{}")
    assert _MemWriteFS.store == {}


# ---------------------------------------------------------------------------
# Streaming sink: deterministic availableNow over a file source.
# ---------------------------------------------------------------------------


def test_stream_sink_exactly_once(registered, tmp_path):
    spark = registered
    src = str(tmp_path / "in")
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _base_df(spark, 300).write.parquet(src)

    def run():
        q = (
            spark.readStream.schema("k long, v long, d date")
            .parquet(src)
            .writeStream.format("txtable")
            .option("key", "k")
            .option("numBuckets", "4")
            .option("txnAppId", "e2e-stream")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(root)
        )
        q.awaitTermination(120)
        q.stop()

    run()
    got = read_txtable(spark, root)
    assert got.count() == 300
    assert got.select("k").distinct().count() == 300
    fs, r = _fs_root(root, {})
    m0 = _read_manifest(fs, r, 0)
    assert m0["app_txns"] == {"e2e-stream": 0}

    # restart from the same checkpoint with no new data: no-op
    run()
    assert read_txtable(spark, root).count() == 300

    # simulate a post-checkpoint-loss replay of batch 0: the LOG skips it
    spec = _resolve_table_spec(
        fs, r, {}, StructType.fromDDL("k long, v long, d date")
    )
    assert not commit_files(
        fs,
        r,
        spec,
        [_TxFiles(entries=[(0, "data/replay/p.parquet", 9, {}, {}, {})])],
        False,
        txn_app_id="e2e-stream",
        txn_version=0,
    )
    assert read_txtable(spark, root).count() == 300


def test_append_schema_evolution(registered, tmp_path):
    """A later append may carry extra columns (and drop others) under
    the explicit evolveSchema opt-in: readers null-fill both
    directions (full contract in tests/test_txlog_schema.py)."""
    spark = registered
    root = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, "a")], "k long, v string"
    ).write.format("txtable").option("key", "k").mode("append").save(root)
    spark.createDataFrame(
        [(2, 9.5)], "k long, extra double"
    ).write.format("txtable").option("evolveSchema", "true").mode(
        "append"
    ).save(root)
    got = {r["k"]: r for r in spark.read.format("txtable").load(root).collect()}
    assert got[1]["v"] == "a" and got[1]["extra"] is None
    assert got[2]["v"] is None and got[2]["extra"] == 9.5
    # the JVM reader agrees
    jvm = {r["k"]: r for r in read_txtable(spark, root).collect()}
    assert jvm[2]["extra"] == 9.5 and jvm[1]["extra"] is None


# ---------------------------------------------------------------------------
# Property fuzz + cross-engine claim compatibility.
# ---------------------------------------------------------------------------


def test_bucket_parity_property_fuzz():
    """Hypothesis fuzz of the numpy writer hash vs the scalar spec
    implementation across the full int64/int32/unicode space."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=50))
    def int64_case(vals):
        got = list(bucket_ids_for(pa.array(vals, pa.int64()), "int64", 32))
        assert got == [bucket_of_literal(v, 32, "int64") for v in vals]

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=50))
    def int32_case(vals):
        got = list(bucket_ids_for(pa.array(vals, pa.int32()), "int32", 16))
        assert got == [bucket_of_literal(v, 16, "int32") for v in vals]

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.text(max_size=40), min_size=1, max_size=30))
    def str_case(vals):
        got = list(bucket_ids_for(pa.array(vals, pa.string()), "string", 8))
        assert got == [bucket_of_literal(v, 8, "string") for v in vals]

    int64_case()
    int32_case()
    str_case()


def test_cross_engine_commit_claims(registered, tmp_path):
    """The python writer and the JVM txlog share ONE commit log: each
    side's no-overwrite claim must refuse a version the other already
    committed — python sees the JVM's manifest as claimed, and the JVM
    MERGE raises ConcurrentCommitError on a python-claimed version."""
    from data_pipeline_demo_spark.sinks.txlog import (
        ConcurrentCommitError as JvmRace,
        _commit_manifest,
    )

    spark = registered
    root = str(tmp_path / "t")
    # JVM creates v0
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        root,
        key="k",
        num_buckets=4,
    )
    fs, r = _fs_root(root, {})
    # python claim of the JVM's v0: refused
    assert put_manifest_if_absent(fs, r, 0, b"{}") is False
    # python claims v1; the JVM's attempt at v1 must lose loudly
    assert put_manifest_if_absent(
        fs, r, 1, json.dumps({
            "version": 1, "key": "k", "num_buckets": 4, "buckets": {},
            "row_counts": {}, "app_txns": {}, "stats_columns": [],
            "bucket_stats": {}, "committed_at_ms": 0,
            "schema": [_field("k", "long"), _field("v", "string")],
            "properties": {}, "constraints": {},
        }).encode()
    ) is True
    with pytest.raises(JvmRace):
        _commit_manifest(spark, root, {"version": 1, "key": "k",
                                       "num_buckets": 4, "buckets": {}})
    # and python commit_files RETRIES past the claimed version
    commit_files(
        fs,
        r,
        {**_spec(), "schema_fields": [_field("k", "long"), _field("v", "string")]},
        [_TxFiles(entries=[(0, "data/x/p.parquet", 1, {}, {}, {})])], False,
    )
    assert _read_manifest(fs, r, 2)["version"] == 2


def test_write_txtable_wrapper_one_file_per_bucket(registered, tmp_path):
    """The bucket-aligned wrapper: one data file per bucket per commit
    (no task×bucket slivers), and the result reads back identically."""
    import glob

    from data_pipeline_demo_spark.sources.txtable_writer import write_txtable

    spark = registered
    root = str(tmp_path / "t")
    df = _base_df(spark, 500).repartition(13)  # misaligned input
    write_txtable(df, root, key="k", num_buckets=8)
    files = glob.glob(root + "/data/*/__bucket=*/*.parquet")
    assert len(files) == 8
    assert read_txtable(spark, root).count() == 500
    # MERGE parity still holds through the wrapper
    upd = _base_df(spark, 500).filter(F.col("k") < 5).withColumn(
        "v", F.col("v") + 1
    )
    assert txlog_upsert(spark, upd, root) == 500


# --- python-writer bloom maintenance (round-7: append keeps filters) --------


def test_python_append_maintains_bloom_filters_bit_exact(registered, tmp_path):
    """Filter after JVM-create(A) + python-append(B) must equal the JVM
    build over A∪B exactly: append ORs in precisely the bits a rebuild
    would set (bit parity of the numpy bloom build)."""
    import json
    import pathlib

    from data_pipeline_demo_spark.sinks.txlog import txlog_upsert

    spark = registered
    a = [(i, f"sku-{i}", i % 7) for i in range(0, 40)]
    b = [(i, f"sku-{i}", i % 7) for i in range(40, 80)]
    schema = "id long, sku string, grp int"

    root1 = str(tmp_path / "t1")
    txlog_upsert(
        spark, spark.createDataFrame(a, schema), root1,
        num_buckets=4, bloom_columns=["sku", "grp"], bloom_bits=256,
    )
    spark.createDataFrame(b, schema).write.format("txtable").mode(
        "append"
    ).save(root1)

    root2 = str(tmp_path / "t2")
    txlog_upsert(
        spark, spark.createDataFrame(a + b, schema), root2,
        num_buckets=4, bloom_columns=["sku", "grp"], bloom_bits=256,
    )

    def latest_blooms(root):
        commits = sorted((pathlib.Path(root) / "_commits").glob("*.json"))
        return json.loads(commits[-1].read_text())["bucket_blooms"]

    assert latest_blooms(root1) == latest_blooms(root2)


def test_python_append_bloom_pruning_still_finds_new_rows(registered, tmp_path):
    from data_pipeline_demo_spark.sinks.txlog import read_txtable, txlog_upsert

    spark = registered
    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, "alpha")], "id long, sku string"),
        root,
        num_buckets=4,
        bloom_columns=["sku"],
    )
    spark.createDataFrame(
        [(2, "beta"), (3, "gamma")], "id long, sku string"
    ).write.format("txtable").mode("append").save(root)
    # the appended value is findable through a bloom-pruned read
    got = read_txtable(spark, root, bloom_eq={"sku": "beta"}).collect()
    assert [r["id"] for r in got] == [2]
    # an absent value prunes to empty without a wrong exclusion
    assert read_txtable(spark, root, bloom_eq={"sku": "nope"}).count() == 0


def test_python_append_unsupported_bloom_type_pops_filter(registered, tmp_path):
    """A bloom column whose arrow type the numpy build can't hash with
    parity (here: float) makes the write POP touched buckets' filters —
    never publish wrong bits. Untouched buckets keep theirs."""
    import json
    import pathlib

    from data_pipeline_demo_spark.sinks.txlog import txlog_upsert

    spark = registered
    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, 1.5)], "id long, score double"),
        root,
        num_buckets=4,
        bloom_columns=["score"],
    )
    commits = sorted((pathlib.Path(root) / "_commits").glob("*.json"))
    assert json.loads(commits[-1].read_text())["bucket_blooms"]
    spark.createDataFrame(
        [(1, 9.5)], "id long, score double"
    ).write.format("txtable").mode("append").save(root)
    commits = sorted((pathlib.Path(root) / "_commits").glob("*.json"))
    blooms = json.loads(commits[-1].read_text())["bucket_blooms"]
    # id=1 hashes to one bucket; that bucket's filter is popped
    assert blooms == {}


def test_bloom_build_emits_no_overflow_warning(tmp_path):
    """The task writer's Bloom build hashes with wrapping 64-bit
    products and warns about none of them (it used to warn on every
    Bloom-column write); the positions still match the scalar hash."""
    import struct
    import warnings

    import numpy as np
    import pyarrow as pa

    from data_pipeline_demo_spark.sources.txtable_writer import (
        _TaskState,
        xxh64_fixed4_seeded,
    )

    seeds = np.array([42, 2**63 + 5, 2**64 - 1], dtype=np.uint64)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = xxh64_fixed4_seeded(2, seeds)
        fs, root = _fs_root(str(tmp_path / "t"), {})
        task = _TaskState(fs, root, "c0", ["grp"], ["sku", "grp"], 256)
        batch = pa.record_batch(
            [pa.array([1, 2, 3], pa.int64()), pa.array(["a", None, "c"]),
             pa.array([7, 8, None], pa.int32())],
            names=["id", "sku", "grp"],
        )
        task.write_batch(batch, "id", "int64", 4)
        task.finish()
    want = [xxh64(struct.pack("<i", 2), seed=int(s)) for s in seeds]
    assert [int(h) for h in got] == want
