"""Log-backed transactional table (sinks/txlog.py): commit-protocol
guarantees the rename-based upsert cannot give — snapshot atomicity,
time travel, concurrent-writer safety, vacuum."""

import json

import pytest
from pyspark.sql import functions as F

from data_pipeline_demo_spark.sinks.txlog import (
    ConcurrentCommitError,
    read_txtable,
    txlog_upsert,
    txtable_history,
    vacuum_txtable,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "id long, v string")


def _as_dict(df):
    return {r["id"]: r["v"] for r in df.collect()}


def test_txlog_idempotent_and_update_wins(spark, tmp_path):
    root = str(tmp_path / "tx")
    batch = _rows(spark, [(1, "a"), (2, "b"), (3, "c")])
    n = txlog_upsert(spark, batch, root, num_buckets=4)
    assert n == 3
    # re-delivery of the same batch: row count unchanged
    assert txlog_upsert(spark, batch, root) == 3
    # update wins, insert lands
    n = txlog_upsert(spark, _rows(spark, [(2, "B"), (4, "d")]), root)
    assert n == 4
    assert _as_dict(read_txtable(spark, root)) == {
        1: "a",
        2: "B",
        3: "c",
        4: "d",
    }


def test_txlog_untouched_files_never_rewritten(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(
        spark, _rows(spark, [(i, f"v{i}") for i in range(40)]), root, num_buckets=8
    )
    m1 = json.loads((tmp_path / "tx/_commits" / f"{0:020d}.json").read_text())
    # second commit touches only id=1's bucket
    txlog_upsert(spark, _rows(spark, [(1, "NEW")]), root)
    m2 = json.loads((tmp_path / "tx/_commits" / f"{1:020d}.json").read_text())
    changed = [b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"][b]]
    assert len(changed) == 1  # exactly one bucket replaced its file list
    for b in m1["buckets"]:
        if b not in changed:
            # same physical files carried forward — not rewritten copies
            assert m2["buckets"][b] == m1["buckets"][b]
            assert m2["row_counts"][b] == m1["row_counts"][b]


def test_txlog_merge_never_opens_untouched_buckets(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(
        spark, _rows(spark, [(i, f"v{i}") for i in range(40)]), root, num_buckets=8
    )
    m1 = json.loads((tmp_path / "tx/_commits" / f"{0:020d}.json").read_text())
    # corrupt every data file in buckets id=1 does NOT hash into;
    # a merge that prunes by manifest never opens them and still works
    probe = _rows(spark, [(1, "NEW")])
    touched_rel = set()
    from data_pipeline_demo_spark.sinks.upsert import _bucket_of, BUCKET_COL  # noqa

    b1 = (
        probe.withColumn(BUCKET_COL, _bucket_of("id", m1["num_buckets"]))
        .select(BUCKET_COL)
        .first()[0]
    )
    for b, rels in m1["buckets"].items():
        if b != str(b1):
            for rel in rels:
                (tmp_path / "tx" / rel).write_bytes(b"NOT PARQUET")
        else:
            touched_rel.update(rels)
    n = txlog_upsert(spark, probe, root)
    assert n == 40  # untouched counts summed from the manifest, no read


def test_txlog_time_travel_and_history(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "old"), (2, "x")]), root, num_buckets=2)
    txlog_upsert(spark, _rows(spark, [(1, "new")]), root)
    assert _as_dict(read_txtable(spark, root, version=0))[1] == "old"
    assert _as_dict(read_txtable(spark, root))[1] == "new"
    hist = txtable_history(spark, root)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[0]["rows"] == 2 and hist[1]["rows"] == 2


def test_txlog_uncommitted_files_invisible(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)
    # simulate a crashed writer: data files exist, manifest never created
    orphan = tmp_path / "tx/data/deadbeef/__bucket=0"
    orphan.mkdir(parents=True)
    _rows(spark, [(99, "GHOST")]).write.parquet(str(orphan / "junk"))
    assert _as_dict(read_txtable(spark, root)) == {1: "a"}
    # vacuum sweeps the orphans, snapshot intact
    deleted = vacuum_txtable(spark, root)
    assert deleted > 0
    assert _as_dict(read_txtable(spark, root)) == {1: "a"}
    assert not orphan.exists()


def test_txlog_concurrent_commit_loses_cleanly(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)
    # two writers race for version 1: one wins the create-no-overwrite
    claim = tmp_path / "tx/_commits" / f"{1:020d}.json"
    m0 = json.loads((tmp_path / "tx/_commits" / f"{0:020d}.json").read_text())
    claim.write_text(json.dumps({**m0, "version": 1}))
    from data_pipeline_demo_spark.sinks.txlog import _commit_manifest

    with pytest.raises(ConcurrentCommitError):
        _commit_manifest(spark, root, {**m0, "version": 1})
    # the winner's claim is untouched and the table reads consistently
    assert json.loads(claim.read_text())["version"] == 1
    assert _as_dict(read_txtable(spark, root, version=0)) == {1: "a"}
    # a writer that instead re-reads the log sees the winner and moves on
    assert txlog_upsert(spark, _rows(spark, [(2, "b")]), root) == 2


def test_txlog_vacuum_drops_old_versions(spark, tmp_path):
    root = str(tmp_path / "tx")
    for i in range(3):
        txlog_upsert(spark, _rows(spark, [(1, f"v{i}")]), root, num_buckets=2)
    assert _as_dict(read_txtable(spark, root, version=0))[1] == "v0"
    deleted = vacuum_txtable(spark, root, keep_last=1)
    assert deleted >= 2  # v0/v1's superseded files
    assert _as_dict(read_txtable(spark, root))[1] == "v2"
    with pytest.raises(FileNotFoundError):
        read_txtable(spark, root, version=0)


def test_txlog_null_key_supersedes(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(
        spark, _rows(spark, [(None, "first"), (1, "a")]), root, num_buckets=2
    )
    n = txlog_upsert(spark, _rows(spark, [(None, "second")]), root)
    assert n == 2
    assert _as_dict(read_txtable(spark, root)) == {None: "second", 1: "a"}


def test_txlog_schema_evolution_new_column(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=2)
    wide = spark.createDataFrame(
        [(2, "B", "extra")], "id long, v string, note string"
    )
    # evolution is an explicit opt-in (Delta's contract; full coverage
    # in tests/test_txlog_schema.py)
    with pytest.raises(ValueError, match="evolve_schema"):
        txlog_upsert(spark, wide, root)
    assert txlog_upsert(spark, wide, root, evolve_schema=True) == 2
    got = {r["id"]: (r["v"], r["note"]) for r in read_txtable(spark, root).collect()}
    assert got == {1: ("a", None), 2: ("B", "extra")}


def test_txlog_file_uri(spark, tmp_path):
    root = "file://" + str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)
    assert _as_dict(read_txtable(spark, root)) == {1: "a"}
    assert txlog_upsert(spark, _rows(spark, [(2, "b")]), root) == 2


def test_txlog_compact_preserves_rows_and_history(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.txlog import compact_txtable

    root = str(tmp_path / "tx")
    # the writer emits ONE file per touched bucket per commit (round-6
    # repartition-before-partitionBy), so multi-file buckets arise from
    # size-splitting compactions (or legacy tables) — fabricate that
    # state with a tiny-target ZORDER pass, then coalesce it back
    for i in range(4):
        txlog_upsert(
            spark, _rows(spark, [(k, f"b{i}") for k in range(i * 5, i * 5 + 5)]),
            root, num_buckets=1,
        )
    compact_txtable(spark, root, target_file_bytes=256, zorder_by=["id"])
    m_before = json.loads(
        (tmp_path / "tx/_commits" / f"{4:020d}.json").read_text()
    )
    files_before = len(m_before["buckets"]["0"])
    assert files_before >= 2
    before = _as_dict(read_txtable(spark, root))

    n = compact_txtable(spark, root)
    assert n == 1
    m_after = json.loads(
        (tmp_path / "tx/_commits" / f"{5:020d}.json").read_text()
    )
    assert len(m_after["buckets"]["0"]) < files_before
    assert m_after["row_counts"] == m_before["row_counts"]
    # rows identical; pre-compaction snapshots still readable (time travel)
    assert _as_dict(read_txtable(spark, root)) == before
    assert _as_dict(read_txtable(spark, root, version=3)) == before
    assert _as_dict(read_txtable(spark, root, version=4)) == before
    # idempotent: nothing left to compact
    assert compact_txtable(spark, root) == 0
    # vacuum then: old layout gone, current intact
    vacuum_txtable(spark, root, keep_last=1)
    assert _as_dict(read_txtable(spark, root)) == before


def test_txlog_commit_is_content_atomic(spark, tmp_path):
    """Round-5 protocol: the manifest is fully written as a .tmp dot-file
    then renamed, so (a) a crash leftover tmp is invisible to resolution
    and vacuum sweeps it, and (b) a zero-byte/truncated final manifest
    (legacy-protocol crash, or a store that lost rename atomicity) is
    quarantined by the reader and the table stays readable at the
    previous version — one bad commit file can never brick the table."""
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=2)

    # (a) crash between content-write and rename: tmp dot-file remains
    (tmp_path / "tx/_commits" / ".tmp-deadbeef").write_text('{"version": 99}')
    assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "b"}
    assert [h["version"] for h in txtable_history(spark, root)] == [0]

    # (b) zero-byte final manifest at the newest version
    bad = tmp_path / "tx/_commits" / f"{1:020d}.json"
    bad.write_text("")
    assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "b"}
    assert not bad.exists()  # quarantined aside, not left in place
    # ... and the freed version slot commits cleanly afterwards
    assert txlog_upsert(spark, _rows(spark, [(3, "c")]), root) == 3
    assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "b", 3: "c"}

    # vacuum sweeps the tmp leftover and the quarantined manifest
    vacuum_txtable(spark, root, keep_last=2)
    names = {p.name for p in (tmp_path / "tx/_commits").iterdir()}
    assert not any(n.startswith(".tmp-") for n in names)
    assert not any(n.startswith(".quarantine-") for n in names)


class _RenameFails:
    """A Hadoop FileSystem whose ``rename`` fails with ``error``, or on
    the JVM side for ``"jvm-io"`` (a ``Py4JJavaError``) and
    ``"jvm-arg"`` (an error pyspark converts); every other call goes
    through."""

    def __init__(self, fs, error):
        self._fs, self._error = fs, error

    def rename(self, src, dst):
        if self._error == "jvm-io":
            return self._fs.open(dst)  # FileNotFoundException
        if self._error == "jvm-arg":
            return self._fs.rename(src, None)  # IllegalArgumentException
        raise self._error

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_quarantine_rename_failure_is_skipped_only_for_jvm_errors(
    spark, tmp_path, monkeypatch
):
    """A read-only reader that cannot set an unparsable newest manifest
    aside (a JVM error from ``rename``) still resolves the previous
    version; any other error from the rename propagates."""
    from data_pipeline_demo_spark.sinks import txlog

    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)
    bad = tmp_path / "tx/_commits" / f"{1:020d}.json"
    bad.write_text("{truncated")
    real = txlog._hadoop_fs

    def patched(error):
        def _fs(spark_, path):
            fs, p = real(spark_, path)
            return _RenameFails(fs, error), p

        return _fs

    for jvm_error in ("jvm-io", "jvm-arg"):
        monkeypatch.setattr(txlog, "_hadoop_fs", patched(jvm_error))
        assert txlog._latest_manifest(spark, root)["version"] == 0
        assert bad.exists()  # skipped, not set aside
    monkeypatch.setattr(txlog, "_hadoop_fs", patched(TypeError("not IO")))
    with pytest.raises(TypeError, match="not IO"):
        txlog._latest_manifest(spark, root)


def test_txlog_commit_never_visible_half_written(spark, tmp_path):
    """No zero-byte final manifest exists at any point: the final name
    appears only via rename of a fully-written tmp. Proxy check: after
    every commit, every *.json under _commits parses and is non-empty."""
    root = str(tmp_path / "tx")
    for i in range(3):
        txlog_upsert(spark, _rows(spark, [(i, f"v{i}")]), root, num_buckets=2)
        for p in (tmp_path / "tx/_commits").iterdir():
            if p.name.endswith(".json") and not p.name.startswith("."):
                text = p.read_text()
                assert text and json.loads(text)["version"] >= 0


def test_txlog_wrong_key_or_buckets_raises(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, key="id", num_buckets=4)
    with pytest.raises(ValueError, match="key"):
        txlog_upsert(spark, _rows(spark, [(2, "b")]), root, key="v")
    with pytest.raises(ValueError, match="num_buckets"):
        txlog_upsert(spark, _rows(spark, [(2, "b")]), root, num_buckets=8)
    # matching explicit values and omitted values both still work
    assert txlog_upsert(spark, _rows(spark, [(2, "b")]), root, key="id") == 2
    assert txlog_upsert(spark, _rows(spark, [(3, "c")]), root) == 3


def test_txlog_io_error_propagates_not_commit_race(spark, tmp_path, monkeypatch):
    """A non-race failure (permissions/quota/connectivity) must surface
    as itself: masking it as ConcurrentCommitError would send callers
    into futile re-merge retry loops. The tmp file is cleaned up."""
    from data_pipeline_demo_spark.sinks import txlog as txmod

    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)

    class FakeQuota(RuntimeError):
        pass

    def boom(spark_, fs, src, dst):
        raise FakeQuota("disk quota exceeded")

    monkeypatch.setattr(txmod, "_rename_no_overwrite", boom)
    with pytest.raises(FakeQuota):
        txlog_upsert(spark, _rows(spark, [(2, "b")]), root)
    monkeypatch.undo()
    # tmp cleaned; table intact at v0; next commit fine
    names = {p.name for p in (tmp_path / "tx/_commits").iterdir()}
    assert not any(n.startswith(".tmp-") for n in names)
    assert _as_dict(read_txtable(spark, root)) == {1: "a"}
    assert txlog_upsert(spark, _rows(spark, [(2, "b")]), root) == 2


def test_txlog_empty_microbatch_no_new_version(spark, tmp_path):
    """The streaming bridge short-circuits empty micro-batches: a quiet
    processingTime stream must not churn identical snapshot versions."""
    from data_pipeline_demo_spark.streaming.jobs import make_upsert_batch_fn

    root = str(tmp_path / "tx")
    fn = make_upsert_batch_fn(root, key="id")
    fn(_rows(spark, [(1, "a")]), 0)
    assert len(txtable_history(spark, root)) == 1
    empty = _rows(spark, [])
    for bid in range(1, 4):
        fn(empty, bid)
    assert len(txtable_history(spark, root)) == 1  # no version churn
    fn(_rows(spark, [(2, "b")]), 4)
    assert len(txtable_history(spark, root)) == 2
    assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "b"}


def test_txlog_vacuum_time_retention(spark, tmp_path):
    """retain_hours guards lazily-executing readers of older snapshots:
    versions committed inside the window survive vacuum regardless of
    keep_last; retain_hours=0 degenerates to count-only retention."""
    root = str(tmp_path / "tx")
    for i in range(3):
        txlog_upsert(spark, _rows(spark, [(1, f"v{i}")]), root, num_buckets=2)
    # all three versions committed moments ago -> a 1h window keeps all
    deleted = vacuum_txtable(spark, root, keep_last=1, retain_hours=1.0)
    assert [h["version"] for h in txtable_history(spark, root)] == [0, 1, 2]
    assert _as_dict(read_txtable(spark, root, version=0)) == {1: "v0"}
    # zero-width window -> count-only policy applies
    vacuum_txtable(spark, root, keep_last=1, retain_hours=0.0)
    assert [h["version"] for h in txtable_history(spark, root)] == [2]
    assert _as_dict(read_txtable(spark, root)) == {1: "v2"}


def test_txlog_delete_by_keys_bucket_pruned(spark, tmp_path):
    """Key-based DELETE removes exactly the matching rows, touches only
    the buckets the keys hash into (proof: corrupt an untouched
    bucket's file — delete still succeeds), and commits a snapshot the
    old version can still time-travel past."""
    from data_pipeline_demo_spark.sinks.txlog import txlog_delete

    root = str(tmp_path / "tx")
    rows = [(i, f"v{i}") for i in range(40)]
    txlog_upsert(spark, _rows(spark, rows), root, num_buckets=8)
    m0 = json.loads((tmp_path / "tx/_commits" / f"{0:020d}.json").read_text())

    # find two ids in the same bucket, then corrupt a DIFFERENT bucket
    from data_pipeline_demo_spark.sinks.upsert import BUCKET_COL, _bucket_of

    by_bucket = {
        r["id"]: r["b"]
        for r in _rows(spark, rows)
        .select("id", _bucket_of("id", 8).alias("b"))
        .collect()
    }
    target_bucket = by_bucket[0]
    victims = [i for i, b in by_bucket.items() if b == target_bucket][:2]
    other_bucket = next(b for b in m0["buckets"] if int(b) != target_bucket)
    corrupt_rel = m0["buckets"][other_bucket][0]
    corrupt_path = tmp_path / "tx" / corrupt_rel
    original_bytes = corrupt_path.read_bytes()
    corrupt_path.write_bytes(b"NOT A PARQUET FILE")
    try:
        n = txlog_delete(
            spark, root, keys=_rows(spark, [(v, None) for v in victims])
        )
    finally:
        corrupt_path.write_bytes(original_bytes)
    assert n == len(victims)
    got = _as_dict(read_txtable(spark, root))
    assert set(got) == {i for i in range(40) if i not in victims}
    # time travel still shows the pre-delete rows
    assert len(_as_dict(read_txtable(spark, root, version=0))) == 40
    # untouched buckets carried forward file-identical
    m1 = json.loads((tmp_path / "tx/_commits" / f"{1:020d}.json").read_text())
    for b in m0["buckets"]:
        if int(b) != target_bucket:
            assert m1["buckets"][b] == m0["buckets"][b]


def test_txlog_delete_where_predicate(spark, tmp_path):
    """Predicate DELETE: TRUE rows go, FALSE and NULL rows survive; a
    no-match predicate commits no new version; deleting a bucket's last
    row drops the bucket from the manifest."""
    from data_pipeline_demo_spark.sinks.txlog import txlog_delete

    root = str(tmp_path / "tx")
    txlog_upsert(
        spark,
        _rows(spark, [(1, "keep"), (2, "purge"), (3, None), (4, "purge")]),
        root,
        num_buckets=2,
    )
    assert txlog_delete(spark, root, where="v = 'nomatch'") == 0
    assert len(txtable_history(spark, root)) == 1  # no version churn
    n = txlog_delete(spark, root, where="v = 'purge'")
    assert n == 2
    assert _as_dict(read_txtable(spark, root)) == {1: "keep", 3: None}
    with pytest.raises(ValueError, match="exactly one"):
        txlog_delete(spark, root)
    with pytest.raises(ValueError, match="exactly one"):
        txlog_delete(spark, root, keys=_rows(spark, [(1, None)]), where="1=1")


def test_txlog_txn_app_id_exactly_once(spark, tmp_path):
    """Delta txnAppId/txnVersion semantics: a replayed (app, version)
    commit is skipped by the log; a later version lands; a second app's
    watermark is independent; compaction preserves the watermarks."""
    root = str(tmp_path / "tx")
    b0 = _rows(spark, [(1, "a")])
    assert txlog_upsert(spark, b0, root, num_buckets=2,
                        txn_app_id="app1", txn_version=0) == 1
    # replay of batch 0: skipped — row count AND version count unchanged
    assert txlog_upsert(spark, _rows(spark, [(99, "GHOST")]), root,
                        txn_app_id="app1", txn_version=0) == 1
    assert len(txtable_history(spark, root)) == 1
    assert _as_dict(read_txtable(spark, root)) == {1: "a"}
    # next version lands
    assert txlog_upsert(spark, _rows(spark, [(2, "b")]), root,
                        txn_app_id="app1", txn_version=1) == 2
    # other app unaffected by app1's watermark
    assert txlog_upsert(spark, _rows(spark, [(3, "c")]), root,
                        txn_app_id="app2", txn_version=0) == 3
    with pytest.raises(ValueError, match="together"):
        txlog_upsert(spark, b0, root, txn_app_id="app1")
    m = json.loads((tmp_path / "tx/_commits" / f"{2:020d}.json").read_text())
    assert m["app_txns"] == {"app1": 1, "app2": 0}


def test_txtable_changes_cdc(spark, tmp_path):
    """Snapshot diff: insert/update/delete classified per key; only
    buckets whose file lists differ are read (proof: corrupt a bucket
    untouched between the versions — CDC still runs)."""
    from data_pipeline_demo_spark.sinks.txlog import txlog_delete, txtable_changes

    root = str(tmp_path / "tx")
    txlog_upsert(
        spark, _rows(spark, [(i, f"v{i}") for i in range(20)]), root, num_buckets=4
    )
    txlog_upsert(spark, _rows(spark, [(1, "CHANGED"), (100, "NEW")]), root)
    txlog_delete(spark, root, keys=_rows(spark, [(2, None)]))

    def changes(a, b):
        return {
            r["id"]: (r["_change_type"], r["v"])
            for r in txtable_changes(spark, root, a, b).collect()
        }

    c01 = changes(0, 1)
    assert c01[1] == ("update", "CHANGED")
    assert c01[100] == ("insert", "NEW")
    assert set(c01) == {1, 100}  # unchanged keys in touched buckets silent
    c12 = changes(1, 2)
    assert c12 == {2: ("delete", "v2")}
    c02 = changes(0, 2)
    assert c02 == {1: ("update", "CHANGED"), 100: ("insert", "NEW"),
                   2: ("delete", "v2")}

    # pruning proof: corrupt a file in a bucket untouched between v1→v2
    m1 = json.loads((tmp_path / "tx/_commits" / f"{1:020d}.json").read_text())
    m2 = json.loads((tmp_path / "tx/_commits" / f"{2:020d}.json").read_text())
    same = next(b for b in m1["buckets"] if m1["buckets"][b] == m2["buckets"][b])
    p = tmp_path / "tx" / m1["buckets"][same][0]
    original = p.read_bytes()
    p.write_bytes(b"JUNK")
    try:
        assert changes(1, 2) == {2: ("delete", "v2")}
    finally:
        p.write_bytes(original)


def test_txlog_compact_zorder_enables_box_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER: after a z-ordered compaction the bucket's files
    carry tight multi-column min/max footers — a 2-D box query overlaps
    a strict minority of files, while the pre-compaction (insert-order)
    layout prunes nothing. Rows are bit-identical before/after."""
    from data_pipeline_demo_spark.sinks.txlog import compact_txtable

    root = str(tmp_path / "tx")
    # x,y lattice delivered in an order that scatters both columns
    # across every file, so insert-order footers are all full-range
    pts = [(i, (i * 37) % 50, (i * 61) % 50) for i in range(2000)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    for part in range(4):
        txlog_upsert(
            spark, df.filter(F.col("id") % 4 == part), root, num_buckets=1
        )
    before = {(r["id"], r["x"], r["y"]) for r in read_txtable(spark, root).collect()}

    def overlap_fraction():
        m = _latest_manifest_dict(tmp_path)
        files = [str(tmp_path / "tx" / rel) for rel in m["buckets"]["0"]]
        hit = 0
        for f in files:
            s = (
                spark.read.parquet(f)
                .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
                .first()
            )
            if s[0] <= 10 and s[1] >= 0 and s[2] <= 10 and s[3] >= 0:
                hit += 1
        return hit, len(files)

    hit0, n0 = overlap_fraction()
    assert hit0 == n0  # scattered layout: the box overlaps EVERY file

    n = compact_txtable(
        spark, root, target_file_bytes=2 * 1024, zorder_by=["x", "y"]
    )
    assert n == 1
    after = {(r["id"], r["x"], r["y"]) for r in read_txtable(spark, root).collect()}
    assert after == before
    hit1, n1 = overlap_fraction()
    assert n1 >= 3  # the byte target actually split the bucket
    assert hit1 <= n1 // 2  # box query now prunes at least half the files


def _latest_manifest_dict(tmp_path):
    commits = tmp_path / "tx/_commits"
    best = max(
        p for p in commits.iterdir()
        if p.name.endswith(".json") and not p.name.startswith(".")
    )
    return json.loads(best.read_text())


def test_txlog_zone_map_pruning(spark, tmp_path):
    """Manifest zone maps: per-bucket min/max recorded at commit time
    let the read path skip buckets with NO file IO (proof: every
    pruned bucket's files corrupted — pruned read still works), while
    results stay exact and stats survive merges."""
    from data_pipeline_demo_spark.sinks.txlog import read_txtable as rt
    from data_pipeline_demo_spark.sinks.upsert import _bucket_of

    root = str(tmp_path / "tx")
    ids = spark.createDataFrame([(i,) for i in range(40)], "id long")
    with_b = ids.withColumn("b", _bucket_of("id", 8))
    # x encodes the bucket, so each bucket's zone map is one tight point
    df = with_b.selectExpr("id", "CAST(b * 10 AS BIGINT) AS x").drop("b")
    txlog_upsert(spark, df, root, num_buckets=8, stats_columns=["x"])
    m0 = json.loads((tmp_path / "tx/_commits" / f"{0:020d}.json").read_text())
    assert m0["stats_columns"] == ["x"]
    assert all(st["x"][0] == st["x"][1] for st in m0["bucket_stats"].values())

    want_bucket = next(iter(m0["buckets"]))  # prune to exactly this one
    lo = hi = m0["bucket_stats"][want_bucket]["x"][0]
    # corrupt EVERY other bucket's files: pruned read must not open them
    originals = {}
    for b, rels in m0["buckets"].items():
        if b != want_bucket:
            for rel in rels:
                p = tmp_path / "tx" / rel
                originals[p] = p.read_bytes()
                p.write_bytes(b"JUNK")
    try:
        got = rt(spark, root, prune_between={"x": (lo, hi)}).collect()
    finally:
        for p, data in originals.items():
            p.write_bytes(data)
    expect = {
        r["id"]
        for r in df.withColumn("b", _bucket_of("id", 8))
        .filter(F.col("b") == int(want_bucket))
        .collect()
    }
    assert {r["id"] for r in got} == expect
    assert all(r["x"] == lo for r in got)

    # one-sided range + exactness of the residual predicate
    full = {r["id"] for r in rt(spark, root, prune_between={"x": (None, 10)}).collect()}
    model = {
        r["id"]
        for r in df.withColumn("b", _bucket_of("id", 8))
        .filter(F.col("b") * 10 <= 10)
        .collect()
    }
    assert full == model

    # merges keep stats exact; conflicting creation params raise
    txlog_upsert(spark, spark.createDataFrame([(0, 999)], "id long, x long"), root)
    m1 = json.loads((tmp_path / "tx/_commits" / f"{1:020d}.json").read_text())
    b0 = str(
        spark.createDataFrame([(0,)], "id long")
        .select(_bucket_of("id", 8).alias("b")).first()["b"]
    )
    assert m1["bucket_stats"][b0]["x"][1] == 999
    with pytest.raises(ValueError, match="stats_columns"):
        txlog_upsert(spark, df, root, stats_columns=["id"])
    with pytest.raises(ValueError, match="zone maps"):
        rt(spark, root, prune_between={"id": (0, 1)})
    # everything pruned -> empty frame with the real schema
    empty = rt(spark, root, prune_between={"x": (10**9, None)})
    assert empty.count() == 0 and set(empty.columns) == {"id", "x"}


def test_txtable_changes_preimages(spark, tmp_path):
    """Delta-CDF shape: with include_preimages an update emits BOTH the
    old row (update_preimage) and the new row (update_postimage);
    inserts and deletes are unchanged."""
    from data_pipeline_demo_spark.sinks.txlog import txlog_delete, txtable_changes

    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "old"), (2, "b")]), root, num_buckets=2)
    txlog_upsert(spark, _rows(spark, [(1, "new"), (3, "c")]), root)
    txlog_delete(spark, root, keys=_rows(spark, [(2, None)]))
    got = {
        (r["id"], r["_change_type"], r["v"])
        for r in txtable_changes(
            spark, root, 0, include_preimages=True
        ).collect()
    }
    assert got == {
        (1, "update_preimage", "old"),
        (1, "update_postimage", "new"),
        (3, "insert", "c"),
        (2, "delete", "b"),
    }


def test_txlog_shallow_clone_zero_copy_cow(spark, tmp_path):
    """Shallow clone: one JSON write, no data IO; copy-on-write merges
    localize only touched buckets; vacuum on the clone never touches
    source files; source vacuum caveat holds."""
    from data_pipeline_demo_spark.sinks.txlog import shallow_clone_txtable

    src = str(tmp_path / "src")
    clone = str(tmp_path / "clone")
    txlog_upsert(
        spark, _rows(spark, [(i, f"v{i}") for i in range(40)]), src, num_buckets=8
    )
    n = shallow_clone_txtable(spark, src, clone)
    assert n == 40
    # zero data IO: the clone has no data/ directory at all
    assert not (tmp_path / "clone/data").exists()
    assert _as_dict(read_txtable(spark, clone)) == _as_dict(read_txtable(spark, src))

    # copy-on-write: merge into the clone — source bit-unchanged,
    # untouched clone buckets still reference the source absolutely
    txlog_upsert(spark, _rows(spark, [(1, "CLONE-EDIT"), (999, "NEW")]), clone)
    assert _as_dict(read_txtable(spark, src))[1] == "v1"
    got = _as_dict(read_txtable(spark, clone))
    assert got[1] == "CLONE-EDIT" and got[999] == "NEW" and len(got) == 41
    m1 = json.loads((tmp_path / "clone/_commits" / f"{1:020d}.json").read_text())
    local = [b for b, rels in m1["buckets"].items()
             if all(rel.startswith("data/") for rel in rels)]
    remote = [b for b, rels in m1["buckets"].items()
              if all("/src/" in rel for rel in rels)]
    assert len(local) >= 1  # the touched buckets localized
    assert len(remote) == len(m1["buckets"]) - len(local)  # rest still shared

    # vacuum on the clone sweeps only its own data/; source intact
    vacuum_txtable(spark, clone, keep_last=1)
    assert _as_dict(read_txtable(spark, src))[1] == "v1"
    assert _as_dict(read_txtable(spark, clone))[1] == "CLONE-EDIT"

    # cloning onto an existing table refuses
    with pytest.raises(FileExistsError):
        shallow_clone_txtable(spark, src, clone)

    # time-travel clone of an older source version
    txlog_upsert(spark, _rows(spark, [(1, "v1b")]), src)
    clone0 = str(tmp_path / "clone0")
    shallow_clone_txtable(spark, src, clone0, version=0)
    assert _as_dict(read_txtable(spark, clone0))[1] == "v1"


def test_txlog_racing_writers_converge(spark, tmp_path):
    """Optimistic concurrency end-to-end: four threads race commits on
    one table with a re-merge-on-ConcurrentCommitError retry loop.
    Every writer's row must land exactly once, versions are a gapless
    chain, and no writer errors out for a non-race reason."""
    import threading

    from data_pipeline_demo_spark.sinks.txlog import ConcurrentCommitError

    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(0, "seed")]), root, num_buckets=4)
    failures = []

    def writer(i):
        for _ in range(20):
            try:
                txlog_upsert(spark, _rows(spark, [(i, f"w{i}")]), root)
                return
            except ConcurrentCommitError:
                continue
        failures.append(i)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert failures == []
    got = _as_dict(read_txtable(spark, root))
    assert got == {0: "seed", 1: "w1", 2: "w2", 3: "w3", 4: "w4"}
    versions = [h["version"] for h in txtable_history(spark, root)]
    assert versions == list(range(len(versions)))  # gapless chain
    assert len(versions) == 5  # exactly one commit per successful writer


# ---------------------------------------------------------------------------
# Round 6: LogStore commit-claim seam, rename-fallback diagnosis, date
# zone-map bounds.
# ---------------------------------------------------------------------------


def test_log_store_conditional_put_backend(spark, tmp_path):
    """The commit-claim seam: a ConditionalPutLogStore with an injected
    create-exclusive backend (the If-None-Match PUT shape) passes the
    same protocol the default rename store does — normal commits,
    loser-gets-ConcurrentCommitError race, content-complete manifests."""
    import os

    from data_pipeline_demo_spark.sinks.txlog import (
        ConditionalPutLogStore,
        read_txtable,
        set_log_store,
    )

    def fake_conditional_put(path: str, payload: bytes) -> bool:
        # local stand-in for S3 PutObject If-None-Match:* — atomic
        # create-exclusive, full payload or nothing
        local = path.split("://", 1)[-1] if "://" in path else path
        local = local[len("file:"):] if local.startswith("file:") else local
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as f:
            f.write(payload)
        return True

    prev = set_log_store(ConditionalPutLogStore(fake_conditional_put))
    try:
        root = str(tmp_path / "tx")
        txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)
        txlog_upsert(spark, _rows(spark, [(2, "b")]), root)
        assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "b"}
        # race: version 2 already claimed -> loser errors cleanly
        m1 = json.loads(
            (tmp_path / "tx/_commits" / f"{1:020d}.json").read_text()
        )
        claim = tmp_path / "tx/_commits" / f"{2:020d}.json"
        claim.write_text(json.dumps({**m1, "version": 2}))
        from data_pipeline_demo_spark.sinks.txlog import _commit_manifest

        with pytest.raises(ConcurrentCommitError):
            _commit_manifest(spark, root, {**m1, "version": 2})
        assert json.loads(claim.read_text())["version"] == 2  # winner intact
        # a re-reading writer sees the winner's snapshot and moves on
        assert txlog_upsert(spark, _rows(spark, [(3, "c")]), root) == 3
        assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "b", 3: "c"}
    finally:
        set_log_store(prev)


def test_log_store_conditional_put_requires_backend(spark, tmp_path):
    """The seam without a deployment backend refuses loudly instead of
    pretending raw object-store commits are safe."""
    from data_pipeline_demo_spark.sinks.txlog import (
        ConditionalPutLogStore,
        set_log_store,
    )

    prev = set_log_store(ConditionalPutLogStore())
    try:
        with pytest.raises(NotImplementedError, match="conditional_put"):
            txlog_upsert(
                spark, _rows(spark, [(1, "a")]), str(tmp_path / "tx"), num_buckets=2
            )
    finally:
        set_log_store(prev)


def test_rename_fallback_distinguishes_race_from_io_failure():
    """FileSystem.rename's bare false return covers three distinct
    failures; only dst-exists may map to a lost race (→ False →
    ConcurrentCommitError upstream). Missing source/parent surfaces as
    IOError naming both paths."""
    from data_pipeline_demo_spark.sinks.txlog import _rename_fallback

    class FS:
        def __init__(self, rename_ok, dst_exists):
            self._ok, self._dst = rename_ok, dst_exists

        def rename(self, src, dst):
            return self._ok

        def exists(self, p):
            return self._dst

    assert _rename_fallback(FS(True, False), "s", "d") is True
    assert _rename_fallback(FS(False, True), "s", "d") is False
    with pytest.raises(IOError, match="not a commit race"):
        _rename_fallback(FS(False, False), "s", "d")


def test_rename_no_overwrite_python_error_propagates(monkeypatch):
    """Only a JVM failure to build a FileContext (scheme without
    FileContext support) may route the commit claim to the non-atomic
    ``FileSystem.rename`` fallback; a Python-side error propagates."""
    from types import SimpleNamespace

    from data_pipeline_demo_spark.sinks import txlog as txmod

    class FakeJVM:
        def __getattr__(self, name):  # org.apache.hadoop.fs.FileContext
            return self

        def getFileContext(self, uri, conf):
            raise TypeError("not a JVM error")

    def no_fallback(fs, src, dst):
        raise AssertionError("fell back to FileSystem.rename")

    fake_spark = SimpleNamespace(
        _jvm=FakeJVM(), _jsc=SimpleNamespace(hadoopConfiguration=lambda: None)
    )
    dst = SimpleNamespace(toUri=lambda: "file:///t/_commits/00000.json")
    monkeypatch.setattr(txmod, "_rename_fallback", no_fallback)
    with pytest.raises(TypeError, match="not a JVM error"):
        txmod._rename_no_overwrite(fake_spark, None, "src", dst)


def test_zone_map_prune_with_date_bounds(spark, tmp_path):
    """Zone-map stats for date columns are JSON-stored as ISO strings;
    prune_between must accept datetime.date bounds (coerced through the
    same stringification) instead of raising TypeError, and pruning
    must stay correct: buckets outside the date range are never opened."""
    from datetime import date

    from data_pipeline_demo_spark.sinks.txlog import read_txtable as rt

    root = str(tmp_path / "tx")
    df = spark.createDataFrame(
        [(i, date(2026, 1 + (i % 4), 1 + i)) for i in range(20)],
        "id long, d date",
    )
    txlog_upsert(spark, df, root, num_buckets=4, stats_columns=["d"])

    got = {
        r["id"]
        for r in rt(
            spark, root, prune_between={"d": (date(2026, 2, 1), date(2026, 3, 31))}
        ).collect()
    }
    expect = {i for i in range(20) if 2 <= 1 + (i % 4) <= 3}
    assert got == expect
    # one-sided works too
    lo_only = {
        r["id"]
        for r in rt(spark, root, prune_between={"d": (date(2026, 4, 1), None)}).collect()
    }
    assert lo_only == {i for i in range(20) if 1 + (i % 4) == 4}
    # pruning proof: corrupt buckets whose stats are entirely outside
    # the range; the pruned read must not open them
    m0 = json.loads((tmp_path / "tx/_commits" / f"{0:020d}.json").read_text())
    keep = {
        b
        for b, st in m0["bucket_stats"].items()
        if st["d"][1] >= "2026-04-01"
    }
    originals = {}
    for b, rels in m0["buckets"].items():
        if b not in keep:
            for rel in rels:
                p = tmp_path / "tx" / rel
                originals[p] = p.read_bytes()
                p.write_bytes(b"JUNK")
    try:
        pruned = {
            r["id"]
            for r in rt(
                spark, root, prune_between={"d": (date(2026, 4, 1), None)}
            ).collect()
        }
    finally:
        for p, data in originals.items():
            p.write_bytes(data)
    assert pruned == lo_only
    # an incomparable bound type raises the documented error
    with pytest.raises(ValueError, match="not comparable"):
        rt(spark, root, prune_between={"d": ((1, 2), None)}).collect()


def test_txlog_restore_rolls_back_without_data_io(spark, tmp_path):
    """RESTORE commits a new manifest referencing the old snapshot's
    files: content reverts, history (and the bad versions) survive,
    vacuum keeps the restored files alive because the newest manifest
    references them."""
    from data_pipeline_demo_spark.sinks.txlog import restore_txtable, txlog_delete

    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4)  # v0
    txlog_upsert(spark, _rows(spark, [(2, "B"), (3, "c")]), root)  # v1
    txlog_delete(spark, root, where="id = 1")  # v2
    assert _as_dict(read_txtable(spark, root)) == {2: "B", 3: "c"}

    v = restore_txtable(spark, root, version=0)
    assert v == 3
    assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "b"}
    # the bad versions stay time-travelable
    assert _as_dict(read_txtable(spark, root, version=2)) == {2: "B", 3: "c"}
    assert [h["version"] for h in txtable_history(spark, root)] == [0, 1, 2, 3]

    # restore-to-current is a no-op, not an empty commit
    assert restore_txtable(spark, root, version=3) == 3
    assert [h["version"] for h in txtable_history(spark, root)] == [0, 1, 2, 3]

    # vacuum keeps only the newest manifest -> restored files must survive
    vacuum_txtable(spark, root, keep_last=1)
    assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "b"}


def test_txlog_restore_timestamp_and_errors(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.txlog import restore_txtable

    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)  # v0
    m0 = json.loads((tmp_path / "tx/_commits" / f"{0:020d}.json").read_text())
    txlog_upsert(spark, _rows(spark, [(1, "A")]), root)  # v1

    # timestamp at v0's commit resolves to v0
    v = restore_txtable(spark, root, timestamp_ms=m0["committed_at_ms"])
    assert v == 2
    assert _as_dict(read_txtable(spark, root)) == {1: "a"}

    with pytest.raises(ValueError, match="exactly one"):
        restore_txtable(spark, root)
    with pytest.raises(ValueError, match="exactly one"):
        restore_txtable(spark, root, version=0, timestamp_ms=1)
    with pytest.raises(ValueError, match="before"):
        restore_txtable(spark, root, timestamp_ms=1)  # 1970: nothing yet


def test_txlog_restore_app_txn_watermarks(spark, tmp_path):
    """Default keeps current idempotency watermarks (Delta parity): a
    post-restore re-delivery of an already-seen txn version is still
    suppressed. reset_app_txns=True rolls them back, making the batch
    eligible again."""
    from data_pipeline_demo_spark.sinks.txlog import restore_txtable

    root = str(tmp_path / "tx")
    txlog_upsert(spark, _rows(spark, [(1, "a")]), root, num_buckets=2)  # v0
    txlog_upsert(
        spark, _rows(spark, [(2, "bad")]), root, txn_app_id="s", txn_version=7
    )  # v1

    restore_txtable(spark, root, version=0)  # v2, watermarks kept
    # same app txn re-sent: suppressed, table unchanged
    txlog_upsert(
        spark, _rows(spark, [(2, "fixed")]), root, txn_app_id="s", txn_version=7
    )
    assert _as_dict(read_txtable(spark, root)) == {1: "a"}

    restore_txtable(spark, root, version=0, reset_app_txns=True)  # v3
    txlog_upsert(
        spark, _rows(spark, [(2, "fixed")]), root, txn_app_id="s", txn_version=7
    )
    assert _as_dict(read_txtable(spark, root)) == {1: "a", 2: "fixed"}


# --- predicate UPDATE ------------------------------------------------------


class TestUpdate:
    def _seed(self, spark, root):
        df = spark.createDataFrame(
            [(i, i * 10.0, "open" if i % 3 else "closed") for i in range(40)],
            "id long, amount double, status string",
        )
        txlog_upsert(spark, df, root, num_buckets=4)
        return df

    def test_update_semantics(self, spark, tmp_path):
        from data_pipeline_demo_spark.sinks.txlog import txlog_update

        root = str(tmp_path / "t")
        self._seed(spark, root)
        n = txlog_update(
            spark, root,
            set={"amount": "amount + 5", "status": "'flagged'"},
            where="id < 10 AND status = 'open'",
        )
        got = {r["id"]: r for r in read_txtable(spark, root).collect()}
        assert n == sum(1 for i in range(10) if i % 3)
        for i in range(40):
            hit = i < 10 and i % 3
            assert got[i]["amount"] == i * 10.0 + (5 if hit else 0)
            assert got[i]["status"] == (
                "flagged" if hit else ("open" if i % 3 else "closed")
            )

    def test_simultaneous_assignment(self, spark, tmp_path):
        from data_pipeline_demo_spark.sinks.txlog import txlog_update

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(0, 1.0, 2.0)], "id long, a double, b double"
        )
        txlog_upsert(spark, df, root, num_buckets=2)
        txlog_update(spark, root, set={"a": "b", "b": "a"}, where="true")
        r = read_txtable(spark, root).first()
        assert (r["a"], r["b"]) == (2.0, 1.0)  # swap, not chain

    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        from data_pipeline_demo_spark.sinks.txlog import txlog_update
        from data_pipeline_demo_spark.sinks.txlog import _latest_manifest

        root = str(tmp_path / "t")
        self._seed(spark, root)
        before = _latest_manifest(spark, root)["buckets"]
        txlog_update(spark, root, set={"amount": "0.0"}, where="id = 7")
        after = _latest_manifest(spark, root)["buckets"]
        changed = [b for b in before if before[b] != after.get(b)]
        assert len(changed) == 1  # only the bucket id=7 hashes into

    def test_no_match_no_version(self, spark, tmp_path):
        from data_pipeline_demo_spark.sinks.txlog import (
            txlog_update,
            txtable_history,
        )

        root = str(tmp_path / "t")
        self._seed(spark, root)
        v = len(txtable_history(spark, root))
        assert txlog_update(spark, root, set={"amount": "0"}, where="id = 999") == 0
        assert len(txtable_history(spark, root)) == v

    def test_guards(self, spark, tmp_path):
        from data_pipeline_demo_spark.sinks.txlog import txlog_update

        root = str(tmp_path / "t")
        self._seed(spark, root)
        with pytest.raises(ValueError, match="cannot SET the table key"):
            txlog_update(spark, root, set={"id": "id + 1"}, where="true")
        with pytest.raises(ValueError, match="not in table schema"):
            txlog_update(spark, root, set={"nope": "1"}, where="true")
        with pytest.raises(ValueError, match="empty set"):
            txlog_update(spark, root, set={}, where="true")

    def test_cdc_shows_updates_and_time_travel(self, spark, tmp_path):
        from data_pipeline_demo_spark.sinks.txlog import (
            read_txtable as read_tx,
            txlog_update,
            txtable_changes,
        )

        root = str(tmp_path / "t")
        self._seed(spark, root)
        txlog_update(spark, root, set={"status": "'done'"}, where="id % 10 = 0")
        ch = txtable_changes(spark, root, 0, 1)
        by_type = {
            r["_change_type"]: r["count"]
            for r in ch.groupBy("_change_type").count().collect()
        }
        assert by_type == {"update": 4}
        old = read_tx(spark, root, version=0)
        assert old.filter("status = 'done'").count() == 0


def test_read_timestamp_time_travel(spark, tmp_path):
    """read_txtable(timestamp_ms=...) resolves to the last version
    committed at or before the timestamp — Delta's TIMESTAMP AS OF on
    the read path (restore already had it)."""
    from data_pipeline_demo_spark.sinks.txlog import (
        read_txtable as read_tx,
        txtable_history,
    )

    root = str(tmp_path / "t")
    txlog_upsert(spark, spark.createDataFrame([(1, "a")], "id long, v string"), root)
    txlog_upsert(spark, spark.createDataFrame([(2, "b")], "id long, v string"), root)
    hist = txtable_history(spark, root)
    t0 = hist[0]["committed_at_ms"]
    t1 = hist[1]["committed_at_ms"]
    assert read_tx(spark, root, timestamp_ms=t0).count() == 1
    assert read_tx(spark, root, timestamp_ms=t1 + 10_000).count() == 2
    with pytest.raises(ValueError, match="at or before"):
        read_tx(spark, root, timestamp_ms=t0 - 10_000)
    with pytest.raises(ValueError, match="at most one"):
        read_tx(spark, root, version=0, timestamp_ms=t0)


def test_vacuum_dry_run_counts_without_deleting(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.txlog import vacuum_txtable

    root = str(tmp_path / "t")
    for i in range(3):
        txlog_upsert(
            spark,
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            root,
            num_buckets=2,
        )
    would = vacuum_txtable(spark, root, keep_last=1, dry_run=True)
    assert would > 0
    # nothing was touched: all three versions still read
    for v in range(3):
        assert read_txtable(spark, root, version=v).count() == v + 1
    # the real run deletes exactly what the dry run counted
    did = vacuum_txtable(spark, root, keep_last=1)
    assert did == would
    assert read_txtable(spark, root).count() == 3
    with pytest.raises(FileNotFoundError):
        read_txtable(spark, root, version=0)


def test_deep_clone_detaches_from_source(spark, tmp_path):
    """Deep clone: same rows, fresh history, and the clone survives the
    source's files being vacuumed away (the exact failure a shallow
    clone is documented to have)."""
    from data_pipeline_demo_spark.sinks.txlog import (
        deep_clone_txtable,
        txtable_history,
        vacuum_txtable,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    for i in range(2):
        txlog_upsert(
            spark,
            spark.createDataFrame(
                [(j, f"v{i}") for j in range(10 * (i + 1))], "id long, v string"
            ),
            src,
            num_buckets=4,
        )
    n = deep_clone_txtable(spark, src, tgt, version=0)
    assert n == 10
    assert len(txtable_history(spark, tgt)) == 1  # fresh history
    # obliterate the source's old files entirely
    vacuum_txtable(spark, src, keep_last=1)
    import shutil as _sh

    _sh.rmtree(src)
    got = {r["id"]: r["v"] for r in read_txtable(spark, tgt).collect()}
    assert got == {j: "v0" for j in range(10)}
    # spec carried over: merging into the clone respects source bucketing
    assert txlog_upsert(
        spark, spark.createDataFrame([(0, "x")], "id long, v string"), tgt
    ) == 10
    with pytest.raises(FileExistsError):
        deep_clone_txtable(spark, tgt, tgt)


def _rich_source(spark, root):
    """A source holding a renamed column (column mapping), a dropped
    one (tombstone), a live merge-on-read deletion vector, an ALWAYS
    identity column and a DEFAULT."""
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql
    from data_pipeline_demo_spark.sinks.txlog import (
        _latest_manifest,
        txlog_delete,
        txlog_drop_column,
        txlog_rename_column,
    )

    txtable_sql(
        spark,
        f"CREATE TABLE txtable.`{root}` (k STRING, v DOUBLE, x INT, "
        "status STRING DEFAULT 'pending', rid BIGINT GENERATED ALWAYS AS "
        "IDENTITY (START WITH 100 INCREMENT BY 3)) KEY k BUCKETS 2",
    )
    txtable_sql(
        spark,
        f"INSERT INTO txtable.`{root}` (k, v, x, status) VALUES "
        "('a', 1.0, 1, 'live'), ('b', 2.0, 2, 'live'), ('c', 3.0, 3, 'live'), "
        "('d', 4.0, 4, 'live')",
    )
    txlog_rename_column(spark, root, "v", "amount")
    txlog_drop_column(spark, root, "x")
    txlog_delete(spark, root, where="k = 'b'", mode="merge-on-read")
    m = _latest_manifest(spark, root)
    assert m["bucket_dvs"] and m["dropped_columns"]
    return m


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_deep_clone_is_one_commit_of_the_source_manifest(spark, tmp_path):
    """A deep clone reads the source's logical rows (deletion vectors
    applied) and commits them once under the source's manifest: the
    physical column names, tombstones, DEFAULT and identity rule with
    its high-water mark all carry, and no table feature is required."""
    import glob

    import pyarrow.parquet as pq

    from data_pipeline_demo_spark.sinks.manifest import mapping_of
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql
    from data_pipeline_demo_spark.sinks.txlog import deep_clone_txtable

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    sm = _rich_source(spark, src)
    assert deep_clone_txtable(spark, src, tgt) == 3
    assert _sorted_rows(read_txtable(spark, tgt)) == _sorted_rows(
        read_txtable(spark, src)
    )
    [commit] = glob.glob(f"{tgt}/_commits/*.json")
    with open(commit) as f:
        m = json.load(f)
    assert m["operation"] == "CLONE" and "requires" not in m
    assert "bucket_dvs" not in m
    for field in ("schema", "dropped_columns", "column_defaults",
                  "identity_columns", "identity_high_water"):
        assert m[field] == sm[field], field
    physical = mapping_of(m["schema"])["amount"]
    assert physical != "amount"
    files = glob.glob(f"{tgt}/data/*/*/*.parquet")
    assert files and all(physical in pq.read_schema(f).names for f in files)
    txtable_sql(
        spark, f"INSERT INTO txtable.`{tgt}` (k, amount) VALUES ('z', 9.0)"
    )
    z = read_txtable(spark, tgt).filter("k = 'z'").collect()[0]
    assert z["status"] == "pending"
    assert z["rid"] == sm["identity_high_water"]["rid"] + 3


def test_deep_clone_fault_at_the_claim_leaves_no_version(spark, tmp_path):
    """A fault injected into any of the target's manifest claims leaves
    the target with no committed version, and a plain retry clones it
    whole."""
    import contextlib

    from data_pipeline_demo_spark.sinks.txlog import (
        HadoopRenameLogStore,
        _latest_manifest,
        deep_clone_txtable,
        set_log_store,
    )

    class Injected(Exception):
        pass

    class FaultOnClaim(HadoopRenameLogStore):
        """Raise once, on the ``nth`` claim of ``root``'s manifest."""

        def __init__(self, root, nth):
            self.prefix, self.nth, self.seen = f"{root}/_commits/", nth, 0

        def put_if_absent(self, spark, fs, commits, dst, payload):
            if self.prefix in dst.toString():
                self.seen += 1
                if self.seen == self.nth:
                    raise Injected(dst.toString())
            return super().put_if_absent(spark, fs, commits, dst, payload)

    src = str(tmp_path / "src")
    _rich_source(spark, src)
    want = _sorted_rows(read_txtable(spark, src))
    for nth in (1, 2):
        tgt = str(tmp_path / f"tgt{nth}")
        store = FaultOnClaim(tgt, nth)
        prev = set_log_store(store)
        try:
            with contextlib.suppress(Injected):
                deep_clone_txtable(spark, src, tgt)
        finally:
            set_log_store(prev)
        if store.seen >= nth:  # the fault fired
            assert _latest_manifest(spark, tgt) is None, nth
            deep_clone_txtable(spark, src, tgt)
        assert _sorted_rows(read_txtable(spark, tgt)) == want, nth
        assert [h["operation"] for h in txtable_history(spark, tgt)] == [
            "CLONE"
        ]


# ---------------------------------------------------------------------------
# CHECK constraints
# ---------------------------------------------------------------------------


def test_check_constraints_gate_every_write_verb(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.txlog import (
        ConstraintViolationError,
        drop_table_constraint,
        read_txtable,
        set_table_constraint,
        table_constraints,
        txlog_update,
        txlog_upsert,
    )
    from data_pipeline_demo_spark.sources.txtable_writer import write_txtable

    root = str(tmp_path / "cons_tx")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, amount double"
    )
    txlog_upsert(spark, df, root, key="id", num_buckets=4)
    set_table_constraint(spark, root, "amount_nonneg", "amount >= 0")
    assert table_constraints(spark, root) == {"amount_nonneg": "amount >= 0"}

    # MERGE of a violating batch refuses BEFORE writing anything
    bad = spark.createDataFrame([(3, -5.0)], "id long, amount double")
    import pytest as _pytest

    with _pytest.raises(ConstraintViolationError, match="amount_nonneg"):
        txlog_upsert(spark, bad, root)
    assert read_txtable(spark, root).count() == 2  # nothing committed

    # UPDATE that would break the invariant refuses too
    with _pytest.raises(ConstraintViolationError, match="amount_nonneg"):
        txlog_update(
            spark, root, set={"amount": "amount - 100"}, where="id = 1"
        )
    assert {
        r.amount for r in read_txtable(spark, root).collect()
    } == {10.0, 20.0}

    # the bucket-aligned writer wrapper enforces as well
    with _pytest.raises(ConstraintViolationError, match="amount_nonneg"):
        write_txtable(bad, root, key="id", num_buckets=4, mode="append")

    # conforming writes still flow; NULL passes (SQL CHECK semantics)
    ok = spark.createDataFrame(
        [(3, 30.0), (4, None)], "id long, amount double"
    )
    txlog_upsert(spark, ok, root)
    assert read_txtable(spark, root).count() == 4

    # DROP lifts the gate (fresh key so the merge INSERTS)
    assert drop_table_constraint(spark, root, "amount_nonneg") is True
    txlog_upsert(
        spark,
        spark.createDataFrame([(5, -5.0)], "id long, amount double"),
        root,
    )
    assert read_txtable(spark, root).count() == 5


def test_add_constraint_scans_existing_rows(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.txlog import (
        ConstraintViolationError,
        set_table_constraint,
        txlog_upsert,
    )

    root = str(tmp_path / "cons2_tx")
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, -1.0)], "id long, amount double"),
        root,
        key="id",
        num_buckets=2,
    )
    import pytest as _pytest

    with _pytest.raises(ConstraintViolationError, match="amount_nonneg"):
        set_table_constraint(spark, root, "amount_nonneg", "amount >= 0")


def test_concurrent_constraint_change_raises_not_lost(spark, tmp_path):
    """Two concurrent ADD CONSTRAINT calls must NOT last-writer-wins:
    both commit over the same base manifest, the loser raises
    ConcurrentCommitError, and a retry (re-read, re-apply) converges
    with BOTH constraints present."""
    from data_pipeline_demo_spark.sinks.txlog import (
        ConcurrentCommitError,
        _alter_commit,
        _latest_manifest,
        set_table_constraint,
        table_constraints,
        txlog_upsert,
    )

    root = str(tmp_path / "cons_race_tx")
    txlog_upsert(
        spark,
        spark.createDataFrame([(1, 1.0, 5)], "id long, amount double, qty long"),
        root,
        key="id",
        num_buckets=2,
    )
    set_table_constraint(spark, root, "amount_nonneg", "amount >= 0")
    # simulate the race: both writers read base version v, writer A
    # commits v+1 first; writer B's commit over the SAME base must
    # raise instead of silently dropping A's entry
    stale = _latest_manifest(spark, root)  # B's stale read
    set_table_constraint(spark, root, "qty_pos", "qty > 0")  # A wins
    import pytest as _pytest

    with _pytest.raises(ConcurrentCommitError):
        _alter_commit(
            spark, root, stale,
            constraints={**stale["constraints"], "amount_cap": "amount <= 1e9"},
        )
    # B retries through the public API: re-reads, re-applies — nothing lost
    set_table_constraint(spark, root, "amount_cap", "amount <= 1e9")
    assert table_constraints(spark, root) == {
        "amount_nonneg": "amount >= 0",
        "qty_pos": "qty > 0",
        "amount_cap": "amount <= 1e9",
    }


def test_txlog_not_matched_by_source_delete_full_sync(spark, tmp_path):
    root = str(tmp_path / "tx")
    # on a new table the clause has no target rows to delete
    txlog_upsert(
        spark,
        _rows(spark, [(1, "a"), (2, "b"), (3, "c")]),
        root,
        num_buckets=4,
        not_matched_by_source_delete=True,
    )
    # batch = desired state: 2 updated, 4 new; 1 and 3 must vanish
    n = txlog_upsert(
        spark,
        _rows(spark, [(2, "B"), (4, "d")]),
        root,
        not_matched_by_source_delete=True,
    )
    assert n == 2
    assert _as_dict(read_txtable(spark, root)) == {2: "B", 4: "d"}
    # the removals surface as deletes in the change feed
    from data_pipeline_demo_spark.sinks.txlog import txtable_changes

    ch = txtable_changes(spark, root, 0, 1)
    kinds = {
        (r["id"], r["_change_type"])
        for r in ch.select("id", "_change_type").collect()
    }
    assert (1, "delete") in kinds and (3, "delete") in kinds
    assert (4, "insert") in kinds


def test_txlog_not_matched_by_source_conditional(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(
        spark,
        _rows(spark, [(1, "keep"), (2, "b"), (3, "drop")]),
        root,
        num_buckets=4,
    )
    # delete unmatched rows ONLY where v = 'drop'; 1 survives unmatched
    n = txlog_upsert(
        spark,
        _rows(spark, [(2, "B")]),
        root,
        not_matched_by_source_delete="v = 'drop'",
    )
    assert n == 2
    assert _as_dict(read_txtable(spark, root)) == {1: "keep", 2: "B"}


def test_txlog_not_matched_by_source_null_predicate_survives(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog_upsert(
        spark, _rows(spark, [(1, None), (2, "b")]), root, num_buckets=4
    )
    # predicate NULL on id=1's row (v is null): SQL semantics — survives
    n = txlog_upsert(
        spark,
        _rows(spark, [(3, "c")]),
        root,
        not_matched_by_source_delete="v = 'x'",
    )
    assert n == 3
    assert set(_as_dict(read_txtable(spark, root))) == {1, 2, 3}


def test_sql_merge_not_matched_by_source(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql

    root = str(tmp_path / "tx")
    txlog_upsert(
        spark, _rows(spark, [(1, "a"), (2, "b")]), root, num_buckets=4
    )
    _rows(spark, [(2, "B"), (5, "e")]).createOrReplaceTempView("sync_src")
    txtable_sql(
        spark,
        f"MERGE INTO txtable.`{root}` AS t USING sync_src AS s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    assert _as_dict(read_txtable(spark, root)) == {2: "B", 5: "e"}
    spark.catalog.dropTempView("sync_src")


def test_rebucket_evolves_modulus(spark, tmp_path):
    """Partition-spec evolution: same rows under a new bucket count;
    MERGE/lookup after rebucket use the new modulus, old versions
    time-travel under their own, DVs materialize on the way through."""
    import json as _json

    from data_pipeline_demo_spark.sinks.txlog import (
        rebucket_txtable,
        txlog_delete,
    )

    root = str(tmp_path / "tx")
    txlog_upsert(
        spark,
        _rows(spark, [(i, f"v{i}") for i in range(40)]),
        root,
        num_buckets=4,
        stats_columns=["id"],
    )
    txlog_delete(spark, root, where="id >= 35", mode="merge-on-read")
    v = rebucket_txtable(spark, root, 16)
    m = _json.loads(
        (tmp_path / "tx/_commits" / f"{v:020d}.json").read_text()
    )
    assert m["num_buckets"] == 16
    assert "bucket_dvs" not in m and "requires" not in m  # materialized
    assert sum(m["row_counts"].values()) == 35
    assert _as_dict(read_txtable(spark, root)) == {
        i: f"v{i}" for i in range(35)
    }
    # merges keep working on the new modulus; zone maps recomputed
    txlog_upsert(spark, _rows(spark, [(1, "NEW"), (100, "x")]), root)
    got = _as_dict(read_txtable(spark, root))
    assert got[1] == "NEW" and got[100] == "x" and len(got) == 36
    # old version still reads under the old modulus
    assert len(_as_dict(read_txtable(spark, root, version=0))) == 40
    # no-op when already at the requested modulus
    assert rebucket_txtable(spark, root, 16) == v + 1  # merge bumped it


def test_null_count_pruning(spark, tmp_path):
    """Iceberg-style null-count stats: IS NULL probes skip 0-null
    buckets from the manifest alone, IS NOT NULL skips all-null ones,
    both stay exact (predicate re-applied), and counts maintain
    through MERGE / carry through merge-on-read deletes."""
    from data_pipeline_demo_spark.sinks.txlog import txlog_delete

    root = str(tmp_path / "tx")
    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"v{i}") for i in range(40)],
        "id long, v string",
    )
    txlog_upsert(spark, df, root, num_buckets=8, stats_columns=["v"])

    def ids(**kw):
        return {r["id"] for r in read_txtable(spark, root, **kw).collect()}

    truth_null = {i for i in range(40) if i % 3 == 0}
    assert ids(prune_is_null={"v": True}) == truth_null
    assert ids(prune_is_null={"v": False}) == set(range(40)) - truth_null
    # fill most nulls; the recomputed counts keep pruning exact
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(i, "filled") for i in range(0, 40, 3) if i != 0],
            "id long, v string",
        ),
        root,
    )
    assert ids(prune_is_null={"v": True}) == {0}
    # physical counts carry across a merge-on-read delete: exact still
    txlog_delete(
        spark,
        root,
        keys=spark.createDataFrame([(0,)], "id long"),
        mode="merge-on-read",
    )
    assert ids(prune_is_null={"v": True}) == set()
    # undeclared column refuses loudly
    with pytest.raises(ValueError, match="no null counts"):
        read_txtable(spark, root, prune_is_null={"id": True})


def test_publish_obs_stats_equals_readback(spark, tmp_path, monkeypatch):
    """Round-12 publish internals: per-bucket bookkeeping (row counts,
    zone-map min/max, null counts) computed on the write action's
    Observation must be IDENTICAL to the readback fallback's (the path
    bloom tables and over-budget touched sets take)."""
    from datetime import date

    from data_pipeline_demo_spark.sinks import txlog as T

    rows = [
        (i, float(i % 7), date(1994, 1 + i % 12, 1 + i % 28) if i % 5 else None)
        for i in range(200)
    ]

    def build(root):
        df = spark.createDataFrame(rows, "id long, v double, d date")
        txlog_upsert(
            spark, df, root, num_buckets=8, stats_columns=["v", "d"]
        )
        # second commit: update slice + fresh inserts (exercises the
        # merge union plan above the publish)
        upd = spark.createDataFrame(
            [(i, 99.5, None) for i in range(0, 200, 50)]
            + [(1000 + i, -1.0, date(2001, 1, 1)) for i in range(3)],
            "id long, v double, d date",
        )
        txlog_upsert(spark, upd, root)
        return json.loads(
            (tmp_path / root.rsplit("/", 1)[-1] / "_commits" / f"{1:020d}.json")
            .read_text()
        )

    m_obs = build(str(tmp_path / "obs"))
    monkeypatch.setattr(T, "OBS_STATS_MAX_EXPRS", 0)  # force readback
    m_rb = build(str(tmp_path / "rb"))
    assert m_obs["row_counts"] == m_rb["row_counts"]
    assert m_obs["bucket_stats"] == m_rb["bucket_stats"]
    assert m_obs.get("bucket_nulls") == m_rb.get("bucket_nulls")
