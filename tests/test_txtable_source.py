"""The txtable Python data source (PySpark 4 DataSource API): batch
snapshot reads (+ time travel, schema evolution), batch + streaming
change feeds (executor-partitioned, Arrow-native diff), shallow-clone
absolute refs, the fsspec bridge for non-local schemes, and
startingTimestamp resolution — against tables committed by
sinks.txlog."""

import json
import time
from pathlib import Path

import pytest

from data_pipeline_demo_spark.sinks.txlog import (
    shallow_clone_txtable,
    txlog_delete,
    txlog_upsert,
)
from data_pipeline_demo_spark.sources.txtable_source import (
    register_txtable_source,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "id long, v string")


def _as_dict(df):
    return {r["id"]: r["v"] for r in df.collect()}


@pytest.fixture()
def registered(spark):
    register_txtable_source(spark)
    return spark


def test_txtable_format_batch_read_and_time_travel(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), root)

    got = _as_dict(spark.read.format("txtable").load(root))
    assert got == {1: "a", 2: "B", 3: "c"}
    # time travel to the first snapshot
    v0 = _as_dict(spark.read.format("txtable").option("version", "0").load(root))
    assert v0 == {1: "a", 2: "b"}
    # file:// URI accepted
    got = _as_dict(spark.read.format("txtable").load("file://" + root))
    assert got == {1: "a", 2: "B", 3: "c"}


def test_txtable_format_schema_evolution(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)
    wide = spark.createDataFrame(
        [(2, "b", "extra")], "id long, v string, note string"
    )
    txlog_upsert(spark, wide, root, evolve_schema=True)
    df = spark.read.format("txtable").load(root)
    assert set(df.columns) == {"id", "v", "note"}
    got = {r["id"]: (r["v"], r["note"]) for r in df.collect()}
    assert got == {1: ("a", None), 2: ("b", "extra")}


def test_txtable_format_rejects_remote_scheme(registered, tmp_path):
    spark = registered
    with pytest.raises(Exception, match="fsspec|local"):
        spark.read.format("txtable").load("s3a://bucket/tbl").collect()


def test_txtable_change_feed_stream(registered, tmp_path):
    """startingVersion=0 replays history as insert/update rows on the
    first micro-batch; a commit made while the stream runs surfaces as
    the next batch's changes (update + delete here)."""
    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), root)

    q = (
        spark.readStream.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(root)
        .writeStream.format("memory")
        .queryName("t_cdc")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def wait_for(n, timeout=90):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if spark.table("t_cdc").count() >= n:
                return
            time.sleep(1)
        raise AssertionError(
            f"change feed produced {spark.table('t_cdc').count()} rows, "
            f"wanted {n}"
        )

    try:
        wait_for(2)  # replay of v0 -> v1: update(2), insert(3)
        first = {
            (r["id"], r["_change_type"], r["v"])
            for r in spark.table("t_cdc").collect()
        }
        assert first == {(2, "update", "B"), (3, "insert", "c")}

        # live commits: one update-ish upsert and one delete
        txlog_upsert(spark, _rows(spark, [(1, "A2")]), root)
        txlog_delete(spark, root, keys=_rows(spark, [(3, None)]))
        wait_for(4)
        got = {
            (r["id"], r["_change_type"], r["v"])
            for r in spark.table("t_cdc").collect()
        }
        assert (1, "update", "A2") in got
        assert (3, "delete", "c") in got
    finally:
        q.stop()


def test_txtable_batch_parallelizes_per_bucket(registered, tmp_path):
    """The batch reader plans one input partition per live bucket (the
    manifest's parallel grain) — not one, not per-file."""
    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(200)], "id long, v string"),
        root,
        num_buckets=8,
    )
    import json as _json
    from pathlib import Path

    m = _json.loads(
        sorted((Path(root) / "_commits").glob("0*.json"))[-1].read_text()
    )
    n_live = len(m["buckets"])
    df = spark.read.format("txtable").load(root)
    assert df.rdd.getNumPartitions() == n_live
    assert df.count() == 200


def test_txtable_batch_change_feed(registered, tmp_path):
    """Batch CDF: startingVersion/endingVersion window the diff; one
    partition per changed bucket; missing startingVersion raises; an
    empty diff returns zero rows."""
    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), root)
    txlog_delete(spark, root, keys=_rows(spark, [(1, None)]))

    def cdf(a, b=None):
        r = (
            spark.read.format("txtable")
            .option("readChangeFeed", "true")
            .option("startingVersion", str(a))
        )
        if b is not None:
            r = r.option("endingVersion", str(b))
        return {
            (x["id"], x["_change_type"], x["v"]) for x in r.load(root).collect()
        }

    assert cdf(0, 1) == {(2, "update", "B"), (3, "insert", "c")}
    assert cdf(1) == {(1, "delete", "a")}
    assert cdf(0) == {(2, "update", "B"), (3, "insert", "c"), (1, "delete", "a")}
    assert cdf(2, 2) == set()  # empty diff

    with pytest.raises(Exception, match="startingVersion"):
        spark.read.format("txtable").option("readChangeFeed", "true").load(
            root
        ).collect()


# ---------------------------------------------------------------------------
# Round 6: shallow-clone refs, executor-side stream reader, Arrow CDC
# compare, fsspec bridge, startingTimestamp, empty-table CDF schema.
# ---------------------------------------------------------------------------


def test_txtable_format_reads_shallow_clone(registered, tmp_path):
    """A shallow clone's manifest carries ABSOLUTE file:/ refs into the
    source table; the data source must resolve them as-is (mirroring
    sinks.txlog._abs), not join them onto the clone root."""
    spark = registered
    src = str(tmp_path / "src")
    clone = str(tmp_path / "clone")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), src, num_buckets=4)
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), src)
    shallow_clone_txtable(spark, src, clone)
    # sanity: the clone manifest really does hold absolute refs
    m = json.loads(
        sorted((Path(clone) / "_commits").glob("0*.json"))[-1].read_text()
    )
    assert all(
        rel.startswith("/") or rel.startswith("file:") or "://" in rel
        for rels in m["buckets"].values()
        for rel in rels
    )
    got = _as_dict(spark.read.format("txtable").load(clone))
    assert got == {1: "a", 2: "B", 3: "c"}
    # after a local merge the clone mixes absolute (source) and
    # relative (own data/) refs — both must resolve
    txlog_upsert(spark, _rows(spark, [(1, "A2")]), clone)
    got = _as_dict(spark.read.format("txtable").load(clone))
    assert got == {1: "A2", 2: "B", 3: "c"}


def test_stream_reader_is_partition_based_executor_path(registered, tmp_path):
    """The streaming change feed must plan work as input partitions
    (one per changed bucket) and read rows only inside
    read(partition) — never materialize the batch driver-side the way
    SimpleDataSourceStreamReader did."""
    from pyspark.sql.datasource import (
        DataSourceStreamReader,
        SimpleDataSourceStreamReader,
    )

    from data_pipeline_demo_spark.sources.txtable_source import (
        CHANGE_COL,
        TxTableDataSource,
        _ChangesPartition,
    )

    spark = registered
    root = str(tmp_path / "tx")
    # spread keys over many buckets so one commit touches several
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(64)], "id long, v string"
        ),
        root,
        num_buckets=8,
    )
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(i, f"w{i}") for i in range(64)], "id long, v string"
        ),
        root,
    )

    ds = TxTableDataSource(
        {"path": root, "readchangefeed": "true", "startingversion": "0"}
    )
    reader = ds.streamReader(ds.schema())
    assert isinstance(reader, DataSourceStreamReader)
    assert not isinstance(reader, SimpleDataSourceStreamReader)
    assert reader.initialOffset() == {"version": 0}
    end = reader.latestOffset()
    assert end == {"version": 1}
    parts = reader.partitions({"version": 0}, end)
    # the v0->v1 rewrite touched every live bucket; each is its own
    # partition carrying only file refs (no rows planned driver-side)
    assert len(parts) > 1
    assert all(isinstance(p, _ChangesPartition) for p in parts)
    assert all(not hasattr(p, "rows") for p in parts)
    # the actual diff runs in read(partition) — executor path
    import pyarrow as pa

    batches = [b for p in parts for b in reader.read(p)]
    got = pa.Table.from_batches(batches).to_pylist()
    assert len(got) == 64
    assert all(r[CHANGE_COL] == "update" for r in got)


def test_bucket_change_batches_arrow_compare(tmp_path):
    """The CDC comparator is Arrow-native: insert/update/delete
    classification, null-safe value diffs, and a python fallback only
    for nested types — unit-level, no Spark session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_demo_spark.sources.txtable_source import (
        _bucket_change_batches,
        _BucketPartition,
        _ChangesPartition,
        _LocalFS,
    )

    def diff(po, pn):
        return _bucket_change_batches(
            _ChangesPartition(
                _BucketPartition([(fs, po)]), _BucketPartition([(fs, pn)]),
                schema, "id",
            )
        )

    schema = pa.schema(
        [
            pa.field("id", pa.int64()),
            pa.field("v", pa.string()),
            pa.field("tags", pa.list_(pa.int64())),
        ]
    )
    old = pa.table(
        {
            "id": [1, 2, 3, 4, 5],
            "v": ["a", "b", None, "d", "e"],
            "tags": [[1], [2], [3], [4], [5]],
        },
        schema=schema,
    )
    new = pa.table(
        {
            # 1 unchanged, 2 value-update, 3 null->value, 4 nested-only
            # update, 6 insert; 5 deleted
            "id": [1, 2, 3, 4, 6],
            "v": ["a", "B", "c", "d", "f"],
            "tags": [[1], [2], [3], [40], [6]],
        },
        schema=schema,
    )
    po, pn = str(tmp_path / "old.parquet"), str(tmp_path / "new.parquet")
    pq.write_table(old, po)
    pq.write_table(new, pn)
    fs = _LocalFS()
    got = {}
    for batch in diff(po, pn):
        for r in pa.Table.from_batches([batch]).to_pylist():
            got[r["id"]] = r["_change_type"]
    assert got == {2: "update", 3: "update", 4: "update", 6: "insert", 5: "delete"}

    # a null key matches a null key, as in the JVM feed's null-safe
    # join: a null-key row whose value changed is one update, the answer
    # txtable_changes gives (test_null_key_change_feeds_agree)
    null_old, null_new = (
        pa.table({"id": [None, 1], "v": [v, "a"], "tags": [[1], [1]]}, schema=schema)
        for v in ("x", "y")
    )
    pb, pc_ = str(tmp_path / "null_old.parquet"), str(tmp_path / "null_new.parquet")
    pq.write_table(null_old, pb)
    pq.write_table(null_new, pc_)
    got = [
        (r["id"], r["v"], r["_change_type"])
        for batch in diff(pb, pc_)
        for r in pa.Table.from_batches([batch]).to_pylist()
    ]
    assert got == [(None, "y", "update")]


def test_no_full_bucket_to_pylist_in_source():
    """Structural guard for the round-5 scale finding: the data source
    must not materialize whole buckets as Python objects — to_pylist is
    allowed only inside the nested-type fallback of the column
    comparator (matched rows, one column at a time)."""
    import inspect

    from data_pipeline_demo_spark.sources import txtable_source as mod

    src = inspect.getsource(mod)
    hits = [
        line.strip()
        for line in src.splitlines()
        if ".to_pylist()" in line and not line.strip().startswith("#")
    ]
    # exactly the sanctioned calls: the nested-type fallback of the
    # column comparator (matched rows, one column at a time) and the
    # deletion-vector file DICTIONARY (unique file refs — file-count-
    # sized metadata, never per-row data)
    assert len(hits) == 2, hits
    assert any("a.to_pylist(), b.to_pylist()" in h for h in hits)
    assert any("enc.dictionary.to_pylist()" in h for h in hits)


class _MemFS:
    """Minimal fsspec-shaped filesystem backed by a dict of bytes —
    exercises the _FsspecFS tier (ls/isdir/open + whole-object parquet
    fallback) without a real fsspec install."""

    store: dict[str, bytes] = {}

    def __init__(self, **options):
        self.options = options

    @staticmethod
    def _key(path):
        return path.split("://", 1)[-1].rstrip("/")

    def ls(self, path, detail=False):
        prefix = self._key(path) + "/"
        names = sorted(
            {
                prefix + p[len(prefix):].split("/", 1)[0]
                for p in self.store
                if p.startswith(prefix)
            }
        )
        return names

    def isdir(self, path):
        prefix = self._key(path) + "/"
        return any(p.startswith(prefix) for p in self.store)

    def open(self, path, mode="rb"):
        import io

        return io.BytesIO(self.store[self._key(path)])


class _FakeFsspec:
    AbstractFileSystem = object

    @staticmethod
    def filesystem(scheme, **options):
        assert scheme == "mem"
        return _MemFS(**options)


def test_fsspec_bridge_non_local_scheme(registered, tmp_path, monkeypatch):
    """format('txtable') on a non-file scheme: a txtable committed to
    local disk is mirrored into an in-memory fsspec filesystem and read
    back through the mem:// root — schema(), per-bucket partitions, and
    Arrow reads all flow through the fsspec tier. fs.* reader options
    reach fsspec.filesystem()."""
    import sys

    from data_pipeline_demo_spark.sources.txtable_source import (
        TxTableDataSource,
        _FsspecFS,
    )

    spark = registered
    root = tmp_path / "tx"
    txlog_upsert(
        spark, _rows(spark, [(1, "a"), (2, "b")]), str(root), num_buckets=4
    )
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), str(root))

    _MemFS.store = {
        "tbl/" + str(p.relative_to(root)): p.read_bytes()
        for p in root.rglob("*")
        if p.is_file()
    }
    monkeypatch.setitem(sys.modules, "fsspec", _FakeFsspec)

    ds = TxTableDataSource({"path": "mem://tbl", "fs.region": "test"})
    schema = ds.schema()
    assert [f.name for f in schema.fields] == ["id", "v"]
    reader = ds.reader(schema)
    parts = reader.partitions()
    assert len(parts) >= 1
    assert all(
        isinstance(fs, _FsspecFS) and fs.options == {"region": "test"}
        for p in parts
        for fs, _ in p.refs
    )
    import pyarrow as pa

    rows = {
        r["id"]: r["v"]
        for p in parts
        for b in reader.read(p)
        for r in pa.Table.from_batches([b]).to_pylist()
    }
    assert rows == {1: "a", 2: "B", 3: "c"}

    # time travel and the batch change feed ride the same tier
    ds0 = TxTableDataSource({"path": "mem://tbl", "version": "0"})
    r0 = ds0.reader(ds0.schema())
    rows0 = {
        r["id"]: r["v"]
        for p in r0.partitions()
        for b in r0.read(p)
        for r in pa.Table.from_batches([b]).to_pylist()
    }
    assert rows0 == {1: "a", 2: "b"}
    cdf = TxTableDataSource(
        {"path": "mem://tbl", "readchangefeed": "true", "startingversion": "0"}
    )
    rc = cdf.reader(cdf.schema())
    changes = {
        (r["id"], r["_change_type"])
        for p in rc.partitions()
        for b in rc.read(p)
        for r in pa.Table.from_batches([b]).to_pylist()
    }
    assert changes == {(2, "update"), (3, "insert")}


def test_starting_timestamp_resolution(registered, tmp_path):
    """startingTimestamp (Delta reader-option shape): resolves to the
    last version committed strictly before the timestamp, so the feed
    carries every change committed at or after it; a timestamp before
    the table existed replays the FULL history — including the first
    commit's inserts, which startingVersion=0 cannot express."""
    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)
    m0 = json.loads(
        sorted((Path(root) / "_commits").glob("0*.json"))[0].read_text()
    )
    t_between = m0["committed_at_ms"] + 1
    time.sleep(0.05)
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), root)

    def cdf(**opts):
        r = spark.read.format("txtable").option("readChangeFeed", "true")
        for k, v in opts.items():
            r = r.option(k, v)
        return {
            (x["id"], x["_change_type"], x["v"]) for x in r.load(root).collect()
        }

    # before table creation: full replay, v0 inserts included — the
    # window is a snapshot DIFF (net changes, same as cdf(0) collapsing
    # intermediate versions), so key 2 surfaces once at its final value
    assert cdf(startingTimestamp="0") == {
        (1, "insert", "a"),
        (2, "insert", "B"),
        (3, "insert", "c"),
    }
    # between the two commits: only the second commit's changes
    assert cdf(startingTimestamp=str(t_between)) == {
        (2, "update", "B"),
        (3, "insert", "c"),
    }
    # ISO form parses too
    assert cdf(startingTimestamp="1970-01-01 00:00:00") == cdf(
        startingTimestamp="0"
    )
    with pytest.raises(Exception, match="at most one"):
        cdf(startingVersion="0", startingTimestamp="0")


def test_non_monotonic_commit_times_split_once(registered, tmp_path):
    """Commit times are writer wall clocks and need not increase. With
    v0..v3 stamped 1000, 3000, 2000, 4000 ms, every reader resolves
    ts=2500 to one split point between v0 and v1 (v2 takes effective
    time 3001): time travel reads v0, and both change feeds start
    after v0."""
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql
    from data_pipeline_demo_spark.sinks.txlog import read_txtable

    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)
    for batch in ([(2, "b")], [(3, "c")], [(1, "A")]):
        txlog_upsert(spark, _rows(spark, batch), root)
    commits = Path(root) / "_commits"
    for v, ms in enumerate([1000, 3000, 2000, 4000]):
        p = commits / f"{v:020d}.json"
        m = json.loads(p.read_text())
        m["committed_at_ms"] = ms
        p.write_text(json.dumps(m))
    for crc in commits.glob(".*.crc"):  # else Hadoop reads the old bytes' checksum
        crc.unlink()
    ts = "1970-01-01 00:00:02.500"

    assert _as_dict(read_txtable(spark, root, timestamp_ms=2500)) == {1: "a"}
    assert _as_dict(
        txtable_sql(spark, f"SELECT * FROM txtable.`{root}` TIMESTAMP AS OF '{ts}'")
    ) == {1: "a"}
    after_v0 = {(2, "insert", "b"), (3, "insert", "c"), (1, "update", "A")}
    sql = txtable_sql(
        spark,
        f"SELECT id, _change_type, v FROM table_changes(txtable.`{root}`, '{ts}')",
    )
    assert {tuple(r) for r in sql.collect()} == after_v0
    ds = (
        spark.read.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", "2500")
        .load(root)
    )
    assert {(r["id"], r["_change_type"], r["v"]) for r in ds.collect()} == after_v0


def test_null_key_change_feeds_agree(registered, tmp_path):
    """A null key is a key like any other in both change feeds: a
    null-key row whose value changes is one update in
    ``txtable_changes`` and in ``format("txtable")``."""
    from data_pipeline_demo_spark.sinks.txlog import txtable_changes

    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(None, "a"), (1, "x")]), root, num_buckets=2)
    txlog_upsert(spark, _rows(spark, [(None, "A")]), root)
    for pre in (False, True):
        jvm = txtable_changes(spark, root, 0, 1, include_preimages=pre)
        ds = (
            spark.read.format("txtable")
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            .option("includePreimages", str(pre).lower())
            .load(root)
        )
        got = [
            sorted((r["id"], r["v"], r["_change_type"]) for r in df.collect())
            for df in (jvm, ds)
        ]
        assert got[0] == got[1]
    assert got[1] == [(None, "A", "update_postimage"), (None, "a", "update_preimage")]


def test_cdf_schema_survives_delete_everything(registered, tmp_path):
    """A delete-everything commit empties the ending manifest; the CDF
    schema falls back to the starting snapshot so the feed (all delete
    rows) stays readable."""
    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)
    assert txlog_delete(spark, root, where="true") == 2
    got = {
        (r["id"], r["_change_type"], r["v"])
        for r in spark.read.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(root)
        .collect()
    }
    assert got == {(1, "delete", "a"), (2, "delete", "b")}


def test_stream_reader_starting_timestamp_full_replay(registered, tmp_path):
    """startingTimestamp on the STREAMING reader: a timestamp before
    table creation resolves to the synthetic empty base (-1), so the
    first micro-batch replays full history — v0's own inserts
    included — all through the executor-partitioned path."""
    import pyarrow as pa

    from data_pipeline_demo_spark.sources.txtable_source import (
        CHANGE_COL,
        TxTableDataSource,
    )

    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), root)

    ds = TxTableDataSource(
        {"path": root, "readchangefeed": "true", "startingtimestamp": "0"}
    )
    reader = ds.streamReader(ds.schema())
    start = reader.initialOffset()
    assert start == {"version": -1}
    end = reader.latestOffset()
    assert end == {"version": 1}
    parts = reader.partitions(start, end)
    rows = [
        r
        for p in parts
        for b in reader.read(p)
        for r in pa.Table.from_batches([b]).to_pylist()
    ]
    got = {(r["id"], r[CHANGE_COL], r["v"]) for r in rows}
    # net diff of empty-base -> v1: every live row is an insert
    assert got == {(1, "insert", "a"), (2, "insert", "B"), (3, "insert", "c")}


# ---------------------------------------------------------------------------
# Filter pushdown: planning-time partition pruning (zone maps + key buckets).
# ---------------------------------------------------------------------------


def test_python_xxhash64_parity_with_spark(spark):
    """The pure-Python XXH64 in sources.pushdown must agree with
    F.xxhash64 for every encoding the bucket pruner uses — otherwise a
    point lookup could prune the bucket that HOLDS the key."""
    from pyspark.sql import functions as F

    from data_pipeline_demo_spark.sources.pushdown import bucket_of_literal, xxh64

    strs = ["", "a", "abc", "hello world", "x" * 7, "y" * 8, "z" * 31,
            "w" * 32, "long-" * 20, "naïve-ünïcode-✓"]
    longs = [0, 1, -1, 42, -42, 2**31, -(2**31) - 7, 2**62, -(2**63), 2**63 - 1]
    ints = [0, 1, -1, 7, 2**31 - 1, -(2**31)]

    df = spark.createDataFrame([(s,) for s in strs], "s string")
    expect = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in strs:
        h = xxh64(s.encode("utf-8"), 42)
        signed = h - (1 << 64) if h >= 1 << 63 else h
        assert signed == expect[s], s

    df = spark.createDataFrame([(v,) for v in longs], "v long")
    expect = {r["v"]: r["h"] for r in df.select("v", F.xxhash64("v").alias("h")).collect()}
    import struct
    for v in longs:
        h = xxh64(struct.pack("<q", v), 42)
        signed = h - (1 << 64) if h >= 1 << 63 else h
        assert signed == expect[v], v

    df = spark.createDataFrame([(v,) for v in ints], "v int")
    expect = {r["v"]: r["h"] for r in df.select("v", F.xxhash64("v").alias("h")).collect()}
    for v in ints:
        h = xxh64(struct.pack("<i", v), 42)
        signed = h - (1 << 64) if h >= 1 << 63 else h
        assert signed == expect[v], v

    # bucket parity against the writer's pmod(xxhash64, n)
    n = 16
    df = spark.createDataFrame([(v,) for v in longs], "v long")
    expect = {
        r["v"]: r["b"]
        for r in df.select(
            "v", F.pmod(F.xxhash64("v"), F.lit(n)).cast("int").alias("b")
        ).collect()
    }
    for v in longs:
        assert bucket_of_literal(v, n, "int64") == expect[v], v


def test_pushdown_reader_prunes_key_equality_to_one_bucket(registered, tmp_path):
    """EqualTo on the bucketing key plans exactly the bucket the writer
    hashed the key into — verified at the reader level (partitions()
    after pushFilters) and end-to-end through format("txtable")."""
    from pyspark.sql.datasource import EqualTo

    from data_pipeline_demo_spark.sources.txtable_source import (
        TxTableDataSource,
        _TxTablePushdownBatchReader,
    )

    spark = registered
    root = str(tmp_path / "tx")
    rows = [(i, f"v{i}") for i in range(64)]
    txlog_upsert(spark, _rows(spark, rows), root, num_buckets=8)

    ds = TxTableDataSource({"path": root})
    reader = ds.reader(ds.schema())
    assert isinstance(reader, _TxTablePushdownBatchReader)
    assert len(reader.partitions()) == 8  # unfiltered: every live bucket

    ds2 = TxTableDataSource({"path": root})
    r2 = ds2.reader(ds2.schema())
    out = r2.pushFilters([EqualTo(("id",), 17)])
    assert len(list(out)) == 1  # everything handed back to Spark
    assert len(r2.partitions()) == 1  # exactly one candidate bucket

    # end-to-end: the filtered read still returns the right row
    got = (
        spark.read.format("txtable").load(root).filter("id = 17").collect()
    )
    assert [(r["id"], r["v"]) for r in got] == [(17, "v17")]
    # option("pushdown","false") keeps the plain reader working
    got = (
        spark.read.format("txtable")
        .option("pushdown", "false")
        .load(root)
        .filter("id = 17")
        .collect()
    )
    assert [(r["id"], r["v"]) for r in got] == [(17, "v17")]


def test_pushdown_reader_prunes_with_zone_maps(registered, tmp_path):
    """Range predicates on a stats column skip buckets whose recorded
    [min,max] cannot intersect; an impossible range plans zero
    partitions and returns an empty (but well-typed) result."""
    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    from data_pipeline_demo_spark.sources.txtable_source import TxTableDataSource

    spark = registered
    root = str(tmp_path / "tx")
    # id doubles as the stats column; 256 rows over 8 buckets
    rows = [(i, f"v{i}") for i in range(256)]
    txlog_upsert(
        spark, _rows(spark, rows), root, num_buckets=8, stats_columns=["id"]
    )

    ds = TxTableDataSource({"path": root})
    r = ds.reader(ds.schema())
    r.pushFilters([GreaterThan(("id",), 10_000)])
    # beyond every bucket's max: one no-op partition with zero files
    (only,) = r.partitions()
    assert only.refs == []

    ds2 = TxTableDataSource({"path": root})
    r2 = ds2.reader(ds2.schema())
    r2.pushFilters([LessThanOrEqual(("id",), 3)])
    kept = len(r2.partitions())
    assert kept < 8  # only buckets whose min <= 3 survive

    # end-to-end exactness on the pruned plan
    got = sorted(
        r["id"]
        for r in spark.read.format("txtable").load(root).filter("id <= 3").collect()
    )
    assert got == [0, 1, 2, 3]
    assert (
        spark.read.format("txtable").load(root).filter("id > 10000").count() == 0
    )

    # timestamp and decimal stats: the pushed literal (a tz-aware UTC
    # datetime / a Decimal) must compare in the stored stats' own form,
    # so the DataSource prunes exactly like read_txtable
    import datetime as dt
    import decimal

    from pyspark.sql.datasource import GreaterThanOrEqual

    from data_pipeline_demo_spark.sinks.txlog import read_txtable
    from data_pipeline_demo_spark.sources.pushdown import bucket_of_literal

    typed = str(tmp_path / "typed")
    noon = dt.datetime(2024, 1, 1, 12, 0, 0)
    # bucket 0 holds only 9.5, the others only 12.0: '9.5' > '12.0' as
    # strings, so only a by-value comparison can prune bucket 0
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [
                (
                    i,
                    noon,
                    decimal.Decimal(
                        "9.5" if bucket_of_literal(i, 4, "int64") == 0 else "12.0"
                    ),
                )
                for i in range(20)
            ],
            "id long, ts timestamp, amt decimal(10,1)",
        ),
        typed,
        num_buckets=4,
        stats_columns=["ts", "amt"],
    )
    probes = (
        "ts >= timestamp'2024-01-01 06:00:00'",
        "ts >= timestamp'2024-01-01 12:00:00'",
        "ts > timestamp'2024-01-01 12:00:00'",
        "ts <= timestamp'2024-01-01 12:00:00'",
        "amt >= 10",
        "amt <= 10",
    )
    for pred in probes:
        want = read_txtable(spark, typed).filter(pred).count()
        got = spark.read.format("txtable").load(typed).filter(pred).count()
        assert got == want, pred
    assert read_txtable(spark, typed).filter(
        "ts >= timestamp'2024-01-01 12:00:00'"
    ).count() == 20
    ds3 = TxTableDataSource({"path": typed})
    r3 = ds3.reader(ds3.schema())
    r3.pushFilters([GreaterThanOrEqual(("amt",), decimal.Decimal("10.0"))])
    assert 0 < len(r3.partitions()) < 4  # the 9.5-only bucket is pruned
    # stats written by the python writer compare in the same form
    spark.createDataFrame(
        [(100 + i, noon, decimal.Decimal("12.0")) for i in range(4)],
        "id long, ts timestamp, amt decimal(10,1)",
    ).write.format("txtable").mode("append").save(typed)
    for pred in probes:
        want = read_txtable(spark, typed).filter(pred).count()
        got = spark.read.format("txtable").load(typed).filter(pred).count()
        assert got == want, pred


def test_pushdown_prune_is_conservative_without_stats(registered, tmp_path):
    """A table created WITHOUT stats_columns never zone-prunes (all
    buckets kept), and unsupported literal types poison only the
    key-bucket tier — never correctness."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from data_pipeline_demo_spark.sources.txtable_source import TxTableDataSource

    spark = registered
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(i, "x") for i in range(32)]), root, num_buckets=4)

    ds = TxTableDataSource({"path": root})
    r = ds.reader(ds.schema())
    r.pushFilters([GreaterThan(("id",), 10_000)])  # no zone maps recorded
    assert len(r.partitions()) == 4

    ds2 = TxTableDataSource({"path": root})
    r2 = ds2.reader(ds2.schema())
    r2.pushFilters([EqualTo(("v",), "x")])  # not the key, no stats: no-op
    assert len(r2.partitions()) == 4


def test_batch_cdf_include_preimages(registered, tmp_path):
    """includePreimages flips updates to the Delta-CDF pre/postimage
    pair, matching the JVM reader's include_preimages=True shape —
    inserts and deletes are unchanged."""
    from data_pipeline_demo_spark.sinks.txlog import txtable_changes

    spark = registered
    root = str(tmp_path / "pre_tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), root)

    got = {
        (x["id"], x["_change_type"], x["v"])
        for x in spark.read.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("includePreimages", "true")
        .load(root)
        .collect()
    }
    assert got == {
        (2, "update_preimage", "b"),
        (2, "update_postimage", "B"),
        (3, "insert", "c"),
    }
    jvm = {
        (x["id"], x["_change_type"], x["v"])
        for x in txtable_changes(
            spark, root, 0, include_preimages=True
        ).collect()
    }
    assert got == jvm


def test_stream_cdf_include_preimages(registered, tmp_path):
    """The STREAMING change feed also honors includePreimages — the
    algebraic completeness a join-view/aggregate maintainer needs (a
    key-moving update must retract under its OLD key)."""
    spark = registered
    root = str(tmp_path / "pre_stream_tx")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)

    stream = (
        spark.readStream.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("includePreimages", "true")
        .load(root)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    txlog_upsert(spark, _rows(spark, [(2, "B2")]), root)
    q2 = (
        spark.readStream.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("includePreimages", "true")
        .load(root)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = {
        (x["id"], x["_change_type"], x["v"])
        for x in spark.read.parquet(out_dir).collect()
    }
    # startingVersion=0 feeds changes AFTER v0: exactly the pre/post pair
    assert rows == {
        (2, "update_preimage", "b"),
        (2, "update_postimage", "B2"),
    }


def test_register_tolerates_only_an_immutable_conf():
    """``register_txtable_source`` keeps going when the pushdown conf
    cannot be set (``AnalysisException``, e.g. a static conf); any
    other error from the conf call propagates."""
    from pyspark.errors import AnalysisException

    from data_pipeline_demo_spark.sources.txtable_source import (
        register_txtable_source,
    )

    class _Conf:
        def __init__(self, error):
            self.error = error

        def set(self, key, value):
            raise self.error

    class _Session:
        def __init__(self, error):
            self.registered = []
            self.dataSource = self
            self.conf = _Conf(error)

        def register(self, source):
            self.registered.append(source)

    s = _Session(AnalysisException("CANNOT_MODIFY_STATIC_CONFIG"))
    register_txtable_source(s)
    assert len(s.registered) == 1
    with pytest.raises(TypeError, match="not a conf error"):
        register_txtable_source(_Session(TypeError("not a conf error")))
