"""The log-backed transactional table as a first-class Spark data
source (PySpark 4 Python Data Source API): ``spark.read.format
("txtable")`` for manifest-driven batch snapshots (with time travel
and a batch change feed), ``spark.readStream.format("txtable")`` for a
streaming change-data feed.

Why a data source and not just ``sinks.txlog.read_txtable``: the format
boundary makes the table consumable by ANY Spark job — SQL
(``CREATE TABLE ... USING``), other pipelines, the streaming runtime —
without importing this package's internals, the way Delta/Iceberg
tables are consumed. The reference's consumers poll a REST table
(`/root/reference/data_pipeline.py:219-238`); this is that surface
engine-grade.

Design constraints of the Python DS API honored here:

- ``schema()``/``partitions()`` run driver-side WITHOUT a
  SparkSession; ``read(partition)`` runs in executor Python workers.
  Everything therefore reads manifests with plain IO and data files
  with pyarrow — no Spark-on-Spark.
- Batch reads parallelize one partition per live bucket and yield
  Arrow RecordBatches (zero row-at-a-time Python); schema evolution is
  honored by aligning every file to the manifest's recorded schema
  (missing columns → nulls, dropped columns projected away), as the
  JVM reader's explicit-schema scan does.
- Change feeds (batch AND streaming) plan one partition per CHANGED
  bucket — only buckets whose immutable file lists differ between the
  two manifests are ever opened (the ``txtable_changes`` pruning
  argument) — and the per-bucket insert/update/delete diff runs
  EXECUTOR-side as a vectorized Arrow key-compare. The driver touches
  manifests only (metadata-sized at any table size).
- The streaming feed's offsets are manifest versions — exactly the
  commit-log positions, so restart-resume is exact.

Filesystems: local paths and every ``file:`` spelling are read with
plain os/pyarrow IO. Any OTHER scheme (s3://, gs://, memory://, …) is
bridged through ``fsspec`` when it is importable — reader options
prefixed ``fs.`` are passed to ``fsspec.filesystem(scheme, **opts)``,
e.g. ``.option("fs.anon", "true")``. Without fsspec the old loud
NotImplementedError stands (the JVM-side readers in ``sinks.txlog``
speak any Hadoop FS regardless). Manifest file references are
root-relative normally, but a shallow clone's manifest carries
ABSOLUTE refs into its source table (``sinks.manifest.is_absolute_ref``);
those are resolved against the REF's own scheme, not joined onto the
clone root. Log file names and listings, the ``requires`` gate and
column mapping come from ``sinks/manifest.py``, the same functions the
JVM verbs use, and so does the one-format gate (``check_format``),
which every manifest read here passes. So does read planning: the
files and deletion vectors each bucket partition opens
(``scan_files``), the buckets a change window diffs
(``changed_buckets``), the version a timestamp names
(``version_at_timestamp``) and the rename check (``check_no_rename``)
are the functions ``read_txtable``/``txtable_changes`` call, and the
bucket-pruning tiers are ``sources/pushdown.py``'s. This module only
does the IO.

SQL access: ``spark.read.format("txtable").load(root)
.createOrReplaceTempView("t")`` then query ``t``. ``CREATE TABLE …
USING txtable`` resolves the schema but this Spark version does not
deliver the DDL OPTIONS to the Python reader at scan time (observed:
``self.options == {}`` in ``reader()``), so persisted-catalog DDL is
not supported yet.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.errors import AnalysisException
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..sinks.manifest import (
    COMMITS_DIR,
    FEATURE_DV,
    FEATURE_SHARDS,
    changed_buckets,
    check_features as _check_features,  # the name of a parameter below
    check_format,
    check_no_rename,
    commit_rel,
    inflate,
    is_absolute_ref,
    mapping_of,
    scan_files,
    version_at_timestamp,
    versions_in,
)

CHANGE_COL = "_change_type"

# ---------------------------------------------------------------------------
# Filesystem tier: local fast path + fsspec bridge for remote schemes.
# Instances are carried inside InputPartitions, so they must pickle
# cheaply and reconstruct any live handle lazily per process.
# ---------------------------------------------------------------------------


class _LocalFS:
    """Direct os/pyarrow IO for local and ``file:`` paths."""

    def list_names(self, path: str) -> list[str]:
        return os.listdir(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def open_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def parquet_table(self, path: str):
        import pyarrow.parquet as pq

        return pq.read_table(path)

    def __eq__(self, other) -> bool:  # dedupes refs in tests
        return isinstance(other, _LocalFS)

    def __hash__(self) -> int:
        return hash(_LocalFS)


class _FsspecFS:
    """Any non-local scheme via ``fsspec.filesystem(scheme, **options)``.

    The live filesystem object is constructed lazily in whichever
    process needs it (driver for manifests, executor workers for data
    files) — only ``(scheme, options)`` cross the pickle boundary.
    Parquet reads try pyarrow's native ``filesystem=`` integration
    (range reads — the right shape for object stores) and fall back to
    a whole-object fetch through ``fs.open`` for minimal filesystem
    implementations (mocks, odd schemes).
    """

    def __init__(self, scheme: str, options: dict):
        self.scheme = scheme
        self.options = dict(options)
        self._fs = None

    def __getstate__(self):
        return {"scheme": self.scheme, "options": self.options}

    def __setstate__(self, state):
        self.scheme = state["scheme"]
        self.options = state["options"]
        self._fs = None

    def fs(self):
        if self._fs is None:
            import fsspec

            self._fs = fsspec.filesystem(self.scheme, **self.options)
        return self._fs

    def list_names(self, path: str) -> list[str]:
        return [p.rstrip("/").rsplit("/", 1)[-1] for p in self.fs().ls(path, detail=False)]

    def isdir(self, path: str) -> bool:
        try:
            return bool(self.fs().isdir(path))
        except FileNotFoundError:
            return False

    def open_bytes(self, path: str) -> bytes:
        with self.fs().open(path, "rb") as f:
            return f.read()

    def parquet_table(self, path: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            return pq.read_table(path, filesystem=self.fs())
        except (TypeError, ValueError, NotImplementedError, AttributeError):
            return pq.read_table(pa.BufferReader(self.open_bytes(path)))

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, _FsspecFS)
            and other.scheme == self.scheme
            and other.options == self.options
        )

    def __hash__(self) -> int:
        return hash((self.scheme, tuple(sorted(self.options.items()))))


def _fs_root(path: str, fs_options: dict) -> tuple[object, str]:
    """Resolve a table root (or an absolute manifest ref) to
    ``(filesystem adapter, fs-native path)``. Accepts every local
    spelling Spark produces: /x, file:/x, file://x, file:///x (SQL DDL
    normalizes OPTIONS paths to the file:/ form)."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        return _LocalFS(), (parsed.path or path)
    try:
        import fsspec  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            f"txtable data source reads local/file:// paths natively and "
            f"other schemes through fsspec, which is not importable; for "
            f"{path!r} use sinks.txlog.read_txtable (Hadoop FS) or install "
            "fsspec"
        ) from None
    return _FsspecFS(parsed.scheme, fs_options), path


def _resolve_ref(fs, root: str, rel: str, fs_options: dict) -> tuple[object, str]:
    """Resolve one manifest file reference: normally root-relative; an
    absolute ref (a shallow clone's, into its source table's immutable
    files) resolves against its OWN filesystem, never joined onto
    root."""
    if is_absolute_ref(rel):
        return _fs_root(rel, fs_options)
    return fs, root.rstrip("/") + "/" + rel


# ---------------------------------------------------------------------------
# Manifest IO (driver-side: metadata-sized at any table scale).
# ---------------------------------------------------------------------------


def _manifest_versions(fs, root: str) -> list[int]:
    commits = root.rstrip("/") + "/" + COMMITS_DIR
    if not fs.isdir(commits):
        raise FileNotFoundError(f"no committed txtable at {root}")
    out = versions_in(fs.list_names(commits))
    if not out:
        raise FileNotFoundError(f"no committed txtable at {root}")
    return out


# table features the python DataSource implements end-to-end (snapshot
# read, pushdown read, batch CDC, streaming CDC)
_SUPPORTED_FEATURES = frozenset({FEATURE_DV, FEATURE_SHARDS})


def _read_manifest(
    fs, root: str, version: int, check_features: bool = True
) -> dict:
    p = root.rstrip("/") + "/" + commit_rel(version)
    m = json.loads(fs.open_bytes(p).decode("utf-8"))
    check_format(m)
    if check_features:
        # refused, not half-read: ignoring e.g. deletion vectors would
        # resurrect deleted rows
        _check_features(m, _SUPPORTED_FEATURES, "read")
    return inflate(
        m,
        lambda rel: json.loads(
            fs.open_bytes(root.rstrip("/") + "/" + rel).decode("utf-8")
        ),
    )


def _manifest_or_empty(fs, root: str, version: int, template: dict) -> dict:
    """Version ``-1`` is the synthetic empty base (before the table's
    first commit) — it makes the first commit's own inserts replayable
    by the change feed (startingTimestamp before table creation). It
    borrows ``template``'s key and schema: it has no rows to type."""
    if version < 0:
        return {
            "version": -1,
            "key": template["key"],
            "schema": template["schema"],
            "buckets": {},
        }
    return _read_manifest(fs, root, version)


def _latest_version(fs, root: str) -> int:
    return _manifest_versions(fs, root)[-1]


def _commit_times(fs, root: str):
    """``(version, committed_at_ms)`` of each commit in version order,
    read lazily (the resolver stops at its answer). Metadata-only
    probes: the eventual snapshot or change read checks features."""
    for v in _manifest_versions(fs, root):
        m = _read_manifest(fs, root, v, check_features=False)
        yield v, m["committed_at_ms"]


def _parse_timestamp_ms(raw: str) -> int:
    """Epoch millis, or an ISO datetime string (naive → UTC)."""
    try:
        return int(raw)
    except ValueError:
        pass
    dt = datetime.fromisoformat(raw)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


class _BucketPartition(InputPartition):
    """One bucket of one snapshot, resolved for the executor: its data
    refs, the manifest ref of each (deletion vectors name rows by
    manifest ref, spelling-independently) and its deletion-vector
    refs."""

    def __init__(
        self,
        refs: list[tuple],
        rels: list[str] | None = None,
        dv_refs: list[tuple] | None = None,
    ):
        self.refs = refs
        self.rels = rels or []
        self.dv_refs = dv_refs or []


def _bucket_partition(
    fs, root: str, manifest: dict, b: str, fs_options: dict
) -> _BucketPartition:
    """Bucket ``b`` of ``manifest`` as planned by ``scan_files``."""
    rels, dv_rels = scan_files(manifest, [b])
    return _BucketPartition(
        [_resolve_ref(fs, root, rel, fs_options) for rel in rels],
        rels,
        [_resolve_ref(fs, root, rel, fs_options) for rel in dv_rels],
    )


# ---------------------------------------------------------------------------
# Arrow-side helpers (schema, alignment, vectorized CDC compare).
# ---------------------------------------------------------------------------


def _manifest_struct(manifest: dict) -> StructType:
    """The manifest's recorded per-version schema (the read authority:
    time travel returns each version's OWN schema, metadata-added
    columns surface as nulls, dropped columns project away)."""
    return StructType.fromJson({"type": "struct", "fields": manifest["schema"]})


def _manifest_arrow_schema(manifest: dict):
    """:func:`_manifest_struct` as an Arrow schema."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(_manifest_struct(manifest))


def _aligned_table(ref: tuple, schema, mapping: dict | None = None):
    """Read one parquet file aligned to the read schema: missing
    columns null-filled, order normalized. ``mapping`` (logical →
    physical) routes each LOGICAL field to the in-file column that
    actually holds its bytes — renamed columns keep reading their
    original physical name; re-added columns read their fresh minted
    name (absent from old files → null, never the tombstoned data)."""
    import pyarrow as pa

    fs, path = ref
    t = fs.parquet_table(path)
    n = t.num_rows
    cols = []
    for field in schema:
        src = (mapping or {}).get(field.name, field.name)
        if src in t.column_names:
            col = t.column(src)
            if col.type != field.type:
                col = col.cast(field.type)
        else:
            col = pa.nulls(n, type=field.type)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=schema)


def _logical_tables(side: _BucketPartition, schema, mapping: dict | None = None):
    """Each file of one bucket side aligned to ``schema`` with its
    deletion-vector positions dropped (positions are per file, so the
    filter runs at file grain)."""
    dv_positions = _load_dv_positions(side.dv_refs) if side.dv_refs else {}
    for i, ref in enumerate(side.refs):
        t = _aligned_table(ref, schema, mapping)
        yield _dv_anti_filter(t, side.rels[i], dv_positions) if dv_positions else t


def _concat_logical(side: _BucketPartition, schema, mapping: dict | None = None):
    """One bucket side's logical rows as one table."""
    import pyarrow as pa

    tables = list(_logical_tables(side, schema, mapping))
    if tables:
        return pa.concat_tables(tables)
    return pa.Table.from_arrays(
        [pa.nulls(0, f.type) for f in schema], schema=schema
    )


def _neq_null_safe(a, b):
    """Vectorized null-safe per-row inequality of two columns; python
    fallback only for types Arrow cannot compare (nested)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    try:
        ne = pc.fill_null(pc.not_equal(a, b), False)
    except pa.lib.ArrowNotImplementedError:
        return pa.array(
            [x != y for x, y in zip(a.to_pylist(), b.to_pylist())], pa.bool_()
        )
    return pc.or_(pc.xor(pc.is_null(a), pc.is_null(b)), ne)


def _bucket_change_batches(p: _ChangesPartition) -> Iterator:
    """insert/update/delete Arrow batches for ONE changed bucket: a hash
    key-compare (``index_in``, null matching null like the JVM feed's
    null-safe join) plus vectorized null-safe column diffs — no per-row
    Python objects, O(bucket) Arrow memory bounded per executor task.
    ``p.pre`` switches updates to the Delta-CDF shape
    (``update_preimage`` with the OLD values + ``update_postimage`` with
    the new) — algebraically complete for consumers that must retract
    old contributions (join-view/aggregate maintenance), matching the
    JVM reader's ``txtable_changes(include_preimages=True)``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema, key = p.schema, p.key
    old = _concat_logical(p.old, schema, p.old_mapping)
    new = _concat_logical(p.new, schema, p.new_mapping)
    pre = new.slice(0, 0)
    if old.num_rows == 0 or new.num_rows == 0:
        inserts, updates, deletes = new, new.slice(0, 0), old
    else:
        ok = old.column(key).combine_chunks()
        nk = new.column(key).combine_chunks()
        idx = pc.index_in(nk, value_set=ok, skip_nulls=False)
        inserts = new.filter(pc.is_null(idx))
        matched_new = new.filter(pc.is_valid(idx))
        matched_old = old.take(idx.drop_null())
        diff = None
        for name in schema.names:
            ne = _neq_null_safe(
                matched_new.column(name), matched_old.column(name)
            )
            diff = ne if diff is None else pc.or_(diff, ne)
        updates = (
            matched_new.filter(diff) if diff is not None else matched_new
        )
        if p.pre:
            # row-aligned with matched_new, so the same diff mask selects
            # exactly the preimages of the emitted postimages
            pre = (
                matched_old.filter(diff) if diff is not None else matched_old
            )
        deletes = old.filter(
            pc.is_null(pc.index_in(ok, value_set=nk, skip_nulls=False))
        )
    update_tag = "update_postimage" if p.pre else "update"
    emit = (
        (inserts, "insert"),
        (pre, "update_preimage"),
        (updates, update_tag),
        (deletes, "delete"),
    )
    for tbl, tag in emit:
        if tbl.num_rows:
            out = tbl.append_column(
                CHANGE_COL, pa.array([tag] * tbl.num_rows, pa.string())
            )
            yield from out.to_batches()


# ---------------------------------------------------------------------------
# Batch snapshot reader.
# ---------------------------------------------------------------------------


def _dv_anti_filter(table, rel: str, dv_positions: dict):
    """Drop the rows of ``table`` (read from manifest ref ``rel``)
    whose positions appear in the deletion vectors. numpy boolean mask
    over the file's row range — O(rows + deletes), vectorized."""
    pos = dv_positions.get(rel)
    if pos is None or table.num_rows == 0:
        return table
    import numpy as np
    import pyarrow as pa

    keep = np.ones(table.num_rows, dtype=bool)
    idx = np.asarray(pos, dtype=np.int64)
    idx = idx[(idx >= 0) & (idx < table.num_rows)]
    keep[idx] = False
    return table.filter(pa.array(keep))


def _load_dv_positions(dv_refs: list[tuple]) -> dict:
    """{manifest data-file ref: np.array of deleted row positions}
    from a bucket's deletion-vector parquet sidecars. Vectorized:
    dictionary-encode the file column (positions stay numpy); the only
    python materialization is the DICTIONARY — file-count-sized
    metadata, never the per-row vector."""
    import numpy as np
    import pyarrow.compute as pc

    out: dict = {}
    for fs, path in dv_refs:
        t = fs.parquet_table(path)
        enc = pc.dictionary_encode(t.column("__dv_file").combine_chunks())
        files = enc.dictionary.to_pylist()  # unique file refs only
        codes = enc.indices.to_numpy(zero_copy_only=False)
        poss = t.column("__dv_pos").to_numpy(zero_copy_only=False)
        for i, f in enumerate(files):
            out.setdefault(f, []).append(poss[codes == i])
    return {
        f: np.concatenate(p).astype(np.int64) for f, p in out.items()
    }


class _TxTableBatchReader(DataSourceReader):
    def __init__(self, fs, root: str, version: int, fs_options: dict):
        self.fs = fs
        self.root = root
        self.fs_options = fs_options
        self.manifest = _read_manifest(fs, root, version)
        self.arrow_schema = _manifest_arrow_schema(self.manifest)
        self.mapping = mapping_of(self.manifest["schema"])

    def _bucket_ids(self) -> list[str]:
        return sorted(self.manifest["buckets"], key=int)

    def partitions(self) -> list[InputPartition]:
        # one partition per planned bucket: the same parallel grain the
        # JVM reader gets from the manifest, no directory listing.
        # Nothing to read (an emptied table, or everything pruned)
        # needs one no-op partition: Spark replaces an EMPTY list with
        # a default None partition that read() cannot handle
        return [
            _bucket_partition(self.fs, self.root, self.manifest, b, self.fs_options)
            for b in self._bucket_ids()
        ] or [_BucketPartition([])]

    def read(self, partition: _BucketPartition) -> Iterator:
        for t in _logical_tables(partition, self.arrow_schema, self.mapping):
            yield from t.to_batches()


class _TxTablePushdownBatchReader(_TxTableBatchReader):
    """Snapshot reader + planning-time partition pruning from the query's
    pushed predicates (``sources/pushdown.prune_bucket_ids``): manifest
    zone maps, Bloom filters and null counts plus writer-parity
    key-bucket hashing.  Every filter is returned unhandled
    so Spark re-applies it — pruning only skips buckets that provably
    hold no match; results stay exact.

    Defining ``pushFilters`` makes Spark REQUIRE
    ``spark.sql.python.filterPushdown.enabled=true`` (the engine session
    factory sets it); sessions that can't flip the conf opt out with
    ``.option("pushdown", "false")``, which selects the base reader."""

    def __init__(self, fs, root: str, version: int, fs_options: dict):
        super().__init__(fs, root, version, fs_options)
        self._kept: list[str] | None = None

    def pushFilters(self, filters):
        from .pushdown import prune_bucket_ids

        filters = list(filters)
        self._kept = prune_bucket_ids(self.manifest, filters)
        return filters  # all re-applied by Spark: pruning is metadata-only

    def _bucket_ids(self) -> list[str]:
        return self._kept if self._kept is not None else super()._bucket_ids()


# ---------------------------------------------------------------------------
# Change feed: shared partition shape, batch reader, stream reader.
# ---------------------------------------------------------------------------


class _ChangesPartition(InputPartition):
    """One CHANGED bucket's worth of work, fully self-contained: the
    executor gets resolved file refs + the alignment schema + key, so
    ``read()`` needs no manifest or driver state."""

    def __init__(
        self,
        old: _BucketPartition,
        new: _BucketPartition,
        schema,
        key: str,
        pre: bool = False,
        old_mapping: dict | None = None,
        new_mapping: dict | None = None,
    ):
        self.old = old
        self.new = new
        self.schema = schema
        self.key = key
        self.pre = pre
        # logical→physical column mapping per side (column mapping)
        self.old_mapping = old_mapping
        self.new_mapping = new_mapping


def _change_partitions(
    fs,
    root: str,
    m_from: dict,
    m_to: dict,
    schema,
    fs_options: dict,
    pre: bool = False,
) -> list[_ChangesPartition]:
    key = m_to["key"]
    if (
        m_from.get("num_buckets") is not None
        and m_from["num_buckets"] != m_to["num_buckets"]
    ):
        # a rebucket moved keys ACROSS buckets: this reader diffs each
        # bucket id independently, which would emit spurious
        # delete+insert pairs for unmoved rows. The JVM
        # txtable_changes joins old vs new globally and handles it.
        raise NotImplementedError(
            f"txtable change feed across a bucket-count change "
            f"({m_from['num_buckets']} -> {m_to['num_buckets']}, "
            f"versions {m_from.get('version')} -> {m_to.get('version')}) "
            "is not supported by the python DataSource; read it via "
            "sinks.txlog.txtable_changes, or restart the feed from the "
            "rebucketed version"
        )
    changed = changed_buckets(m_from, m_to)
    if changed:
        # rename-only windows have no changed buckets: the empty feed
        check_no_rename(m_from, m_to)
    old_mapping = mapping_of(m_from["schema"])
    new_mapping = mapping_of(m_to["schema"])
    parts = [
        _ChangesPartition(
            _bucket_partition(fs, root, m_from, b, fs_options),
            _bucket_partition(fs, root, m_to, b, fs_options),
            schema,
            key,
            pre,
            old_mapping,
            new_mapping,
        )
        for b in changed
    ]
    # the API needs >=1 partition; an empty diff reads as no rows
    empty = _BucketPartition([])
    return parts or [_ChangesPartition(empty, empty, schema, key, pre)]


def _cdf_arrow_schema(m_from: dict, m_to: dict):
    """Alignment schema for a change window: the UNION of the two
    snapshots' RECORDED schemas (evolution-safe — a column only one
    side has reads null on the other; a column DROPPED by version
    `to` is projected away exactly like the snapshot reader does, so
    tombstoned data never resurrects through the change feed)."""
    import pyarrow as pa

    fields: dict[str, object] = {}
    for m in (m_to, m_from):
        for field in _manifest_arrow_schema(m):
            fields.setdefault(field.name, field)
    return pa.schema(list(fields.values()))


class _TxTableChangesBatchReader(DataSourceReader):
    """Batch change-feed read (Delta CDF shape):
    ``spark.read.format("txtable").option("readChangeFeed", "true")
    .option("startingVersion", a)[.option("endingVersion", b)]`` —
    one executor partition per CHANGED bucket, diff computed
    executor-side."""

    def __init__(
        self,
        fs,
        root: str,
        from_v: int,
        to_v: int,
        fs_options: dict,
        pre: bool = False,
    ):
        self.m_to = _read_manifest(fs, root, to_v)
        self.m_from = _manifest_or_empty(fs, root, from_v, self.m_to)
        self.arrow_schema = _cdf_arrow_schema(self.m_from, self.m_to)
        self._parts = _change_partitions(
            fs, root, self.m_from, self.m_to, self.arrow_schema, fs_options,
            pre,
        )

    def partitions(self) -> list[InputPartition]:
        return self._parts

    def read(self, partition: _ChangesPartition) -> Iterator:
        return _bucket_change_batches(partition)


class _TxTableStreamReader(DataSourceStreamReader):
    """Streaming change feed, partition-based: offsets are manifest
    versions; each micro-batch plans one partition per changed bucket
    and the per-bucket diff runs in executor workers, so the driver
    touches manifests only."""

    def __init__(
        self,
        fs,
        root: str,
        starting_version: int | None,
        fs_options: dict,
        pre: bool = False,
    ):
        self.fs = fs
        self.root = root
        self.fs_options = fs_options
        self.starting_version = starting_version
        self.pre = pre

    def initialOffset(self) -> dict:
        # default: emit changes made AFTER stream start (Delta CDF
        # shape); startingVersion/startingTimestamp replay history
        # from that base snapshot (-1 = before the first commit)
        v = (
            self.starting_version
            if self.starting_version is not None
            else _latest_version(self.fs, self.root)
        )
        return {"version": v}

    def latestOffset(self) -> dict:
        return {"version": _latest_version(self.fs, self.root)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        m_to = _read_manifest(self.fs, self.root, end["version"])
        m_from = _manifest_or_empty(self.fs, self.root, start["version"], m_to)
        schema = _cdf_arrow_schema(m_from, m_to)
        return _change_partitions(
            self.fs, self.root, m_from, m_to, schema, self.fs_options,
            self.pre,
        )

    def read(self, partition: _ChangesPartition) -> Iterator:
        return _bucket_change_batches(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets are durable manifest versions; nothing to ack


# ---------------------------------------------------------------------------
# The DataSource.
# ---------------------------------------------------------------------------


class TxTableDataSource(DataSource):
    """``format("txtable")``. Options: ``path`` (or ``load(path)``),
    ``version`` (batch time travel), ``readChangeFeed`` +
    ``startingVersion``/``startingTimestamp`` (+ batch
    ``endingVersion``) for change feeds, ``includePreimages`` for the
    Delta-CDF update_preimage/update_postimage shape (algebraic
    completeness for retraction-based consumers — join-view/aggregate
    maintenance), ``fs.*`` passed to ``fsspec.filesystem`` for
    non-local schemes."""

    @classmethod
    def name(cls) -> str:
        return "txtable"

    def _fs_options(self) -> dict:
        return {
            k[3:]: v
            for k, v in self.options.items()
            if k.startswith("fs.") and len(k) > 3
        }

    def _fs_root(self) -> tuple[object, str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("txtable requires a path: load(<table root>)")
        return _fs_root(path, self._fs_options())

    def _is_cdf(self) -> bool:
        return self.options.get("readchangefeed", "").lower() == "true"

    def _include_preimages(self) -> bool:
        return self.options.get("includepreimages", "").lower() == "true"

    def _starting_version(self, fs, root: str) -> int | None:
        """Resolve startingVersion xor startingTimestamp (Delta reader
        option shape). Timestamp → greatest version committed strictly
        before it, so the feed carries every change committed at or
        after the timestamp; -1 replays the whole history."""
        sv = self.options.get("startingversion")
        st = self.options.get("startingtimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "set at most one of startingVersion and startingTimestamp"
            )
        if sv is not None:
            return int(sv)
        if st is not None:
            v = version_at_timestamp(
                _commit_times(fs, root), _parse_timestamp_ms(st), "before"
            )
            return -1 if v is None else v
        return None

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        fs, root = self._fs_root()
        if self._is_cdf():
            ev = self.options.get("endingversion")
            to_v = int(ev) if ev is not None else _latest_version(fs, root)
            m_to = _read_manifest(fs, root, to_v)
            sv = self._starting_version(fs, root)
            m_from = _manifest_or_empty(
                fs, root, sv if sv is not None else to_v, m_to
            )
            arrow = _cdf_arrow_schema(m_from, m_to)
            from pyspark.sql.types import StringType, StructField

            return StructType(
                from_arrow_schema(arrow).fields
                + [StructField(CHANGE_COL, StringType())]
            )
        version = self.options.get("version")
        v = int(version) if version is not None else _latest_version(fs, root)
        # schema resolution is metadata-only; the snapshot reader below
        # enforces its own feature policy (deletion vectors supported)
        return _manifest_struct(_read_manifest(fs, root, v, check_features=False))

    def reader(self, schema: StructType) -> DataSourceReader:
        fs, root = self._fs_root()
        if self._is_cdf():
            sv = self._starting_version(fs, root)
            if sv is None:
                raise ValueError(
                    "batch readChangeFeed requires "
                    '.option("startingVersion", <v>) or '
                    '.option("startingTimestamp", <ts>)'
                )
            ev = self.options.get("endingversion")
            to_v = int(ev) if ev is not None else _latest_version(fs, root)
            return _TxTableChangesBatchReader(
                fs, root, sv, to_v, self._fs_options(),
                self._include_preimages(),
            )
        version = self.options.get("version")
        v = int(version) if version is not None else _latest_version(fs, root)
        if str(self.options.get("pushdown", "true")).lower() == "false":
            return _TxTableBatchReader(fs, root, v, self._fs_options())
        return _TxTablePushdownBatchReader(fs, root, v, self._fs_options())

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if not self._is_cdf():
            raise ValueError(
                "streaming txtable is a change feed: set "
                '.option("readChangeFeed", "true") so the schema carries '
                f"{CHANGE_COL}"
            )
        fs, root = self._fs_root()
        return _TxTableStreamReader(
            fs, root, self._starting_version(fs, root), self._fs_options(),
            self._include_preimages(),
        )

    def writer(self, schema: StructType, overwrite: bool):
        """``df.write.format("txtable")`` — blind insert-only append or
        snapshot overwrite with writer-parity bucketing; MERGE stays the
        ``sinks.txlog.txlog_upsert`` API (Delta's split between
        ``df.write`` and ``MERGE INTO``). See ``txtable_writer.py``."""
        from .txtable_writer import make_batch_writer

        return make_batch_writer(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        """``df.writeStream.format("txtable")`` — append-only streaming
        sink, exactly-once via the manifest's ``app_txns`` watermark
        (option ``txnAppId``, default ``txtable-stream-sink``)."""
        from .txtable_writer import make_stream_writer

        return make_stream_writer(self.options, schema, overwrite)


def register_txtable_source(spark) -> None:
    """Make ``format("txtable")`` resolvable in this session.

    Also flips ``spark.sql.python.filterPushdown.enabled`` (a runtime
    SQL conf) on: the snapshot reader implements ``pushFilters`` for
    zone-map/key-bucket pruning, and Spark 4.1 refuses a
    pushFilters-bearing reader outright when the conf is off — so a
    session registered here must never hit that error by default."""
    spark.dataSource.register(TxTableDataSource)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except AnalysisException:
        # a build where this conf is immutable still works via
        # .option("pushdown", "false")
        pass
