"""Hyperspace-style value index for the txlog table: exact bucket
pruning for equality predicates on NON-key columns.

Zone maps (``bucket_stats``) prune RANGES on declared stats columns,
and key-bucket hashing prunes point lookups on THE key — but an
equality filter on any other column still scans every bucket. This
module maintains a secondary txtable mapping each distinct value of an
indexed column to the data buckets containing it (the shape of
Microsoft Hyperspace's covering-index idea, reduced to the
bucket-pruning core — public system, SIGMOD 2021), so
``lookup(value)`` reads exactly the buckets that can hold a match.

Design points:

- **The index IS a txtable at VALUE grain** (rows ``(vkey, value,
  buckets array<int>)``, keyed by the value's render — round 8; the
  round-6/7 layout was one row per (value, bucket) pair, which made
  every probe scan the whole index). Because the index key IS the
  value, a probe computes the value's own index bucket python-side
  (``sources/txtable_writer.bucket_ids_for`` — bit-parity with
  ``F.xxhash64``) and reads exactly ONE index bucket: the probe is
  now O(1 bucket of a 3-column table), not O(index). The index still
  inherits snapshot isolation, time travel, CDC, vacuum — and stores
  its CONSUMER WATERMARK in the commit log
  (``app_txns["value-index"] = source version``), making refresh
  self-describing and replay-safe.
- **Maintenance is CDC-driven and bucket-scoped**: the source change
  feed names the changed buckets (a key's bucket never changes — it is
  ``pmod(xxhash64(key), n)``); refresh recomputes the (value, bucket)
  pairs for ONLY those buckets, rewrites the bucket ARRAYS of exactly
  the values that gained/lost membership there (array_except the
  touched set, array_union the recomputed pairs), deletes values whose
  array emptied, and MERGEs the rest — O(changed buckets) reads of the
  source + O(dirty values) writes, never O(table). The recompute is
  idempotent, so a crash between the delete and the merge re-runs
  cleanly.
- **Staleness can never produce wrong answers**: lookups compare the
  index watermark against the table's latest version and degrade to a
  HYBRID scan when behind (index-pruned untouched buckets + raw reads
  of only the buckets changed since the watermark — O(staleness));
  the full-scan fallback remains only for un-prunable cases (no
  watermark, vacuumed watermark manifest, changed modulus), and
  ``require_fresh=True`` raises instead.

Reference scope: the reference re-reads whole CSVs for every equality
probe (`/root/reference/data_pipeline.py:219-238`); this is that probe
with metadata-bounded IO at any table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import changed_buckets
from .txlog import (
    _latest_manifest,
    _read_buckets_logical,
    _read_manifest,
    read_txtable,
    txlog_delete,
    txlog_upsert,
    txtable_changes,
)
from .upsert import _bucket_of, composite_key, composite_key_str

INDEX_APP = "value-index"
INDEX_NUM_BUCKETS = 8
_NULL_VKEY = "\x00null"  # NULL's key render (NULL itself can't be a key)
_INDEX_SCHEMA = "vkey string, value string, buckets array<int>"


def _cols_of(col) -> list[str]:
    """Normalize the indexed-column argument: a plain string (the
    round-6/7 single-column surface, unchanged) or a list/tuple of
    columns (composite index, round 8)."""
    if isinstance(col, str):
        return [col]
    cols = list(col)
    if not cols or not all(isinstance(c, str) for c in cols):
        raise ValueError(f"col must be a column name or a list of them: {col!r}")
    return cols


def _value_expr(cols: list[str]):
    """The indexed value's string render. Single column: plain CAST
    (back-compatible with existing indexes — NULL stays NULL).
    Composite: :func:`~.upsert.composite_key`, so ('a', NULL) never
    collides with (NULL, 'a') or with a value that contains the
    separator."""
    if len(cols) == 1:
        return F.col(cols[0]).cast("string")
    return composite_key(cols)


def _pairs_for_buckets(
    spark: SparkSession,
    table_root: str,
    manifest: dict,
    cols: list[str],
    buckets: list[int],
) -> DataFrame:
    """Distinct (value, bucket) pairs currently present in the given
    source buckets — reads ONLY those buckets' files."""
    key = manifest["key"]
    nb = manifest["num_buckets"]
    # LOGICAL bucket rows: merge-on-read deletion vectors anti-apply,
    # so the index never records a (value, bucket) pair whose only
    # evidence is a deleted row
    rows = _read_buckets_logical(spark, table_root, manifest, buckets)
    if rows is None:
        return spark.createDataFrame([], "value string, bucket int")
    return rows.select(
        _value_expr(cols).alias("value"),
        _bucket_of(key, nb).alias("bucket"),
    ).distinct()


def _value_arrays(pairs: DataFrame) -> DataFrame:
    """(value, bucket) pairs → one row per value with its sorted
    bucket array and the non-null key render."""
    return pairs.groupBy("value").agg(
        F.sort_array(F.collect_set("bucket")).alias("buckets")
    ).select(
        F.coalesce(F.col("value"), F.lit(_NULL_VKEY)).alias("vkey"),
        "value",
        # pin one element nullability: collect_set yields containsNull=
        # False while the incremental array_union path yields True —
        # the txtable schema must be identical across both writers
        F.col("buckets").cast("array<int>").alias("buckets"),
    )


def _target_str(value) -> str:
    """Python rendering of a lookup value that matches the index's
    build-time ``CAST(col AS STRING)``: bool renders Spark-style
    lowercase; str/int/date render identically in both; float/Decimal
    renderings can diverge (exponent forms, trailing zeros) — pass the
    exact Spark CAST string instead."""
    import datetime as _dt

    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (str, int)) or (
        isinstance(value, _dt.date) and not isinstance(value, _dt.datetime)
    ):
        return str(value)
    raise ValueError(
        f"index lookup value {value!r} ({type(value).__name__}) cannot "
        "reproduce Spark's CAST(col AS STRING) rendering; pass the "
        "exact string Spark produces (e.g. '5.0' for a double)"
    )


def _vkey_str(value, cols: list[str] | None = None) -> str:
    """Key render of a lookup value. Single-column: NULL sentinel or
    the CAST-string mirror. Composite (``value`` is a list/tuple
    matching ``cols``): :func:`~.upsert.composite_key_str`, the python
    mirror of :func:`_value_expr`'s encoding."""
    if cols is not None and len(cols) > 1:
        vals = list(value)
        if len(vals) != len(cols):
            raise ValueError(
                f"composite lookup needs {len(cols)} values "
                f"({cols}), got {len(vals)}"
            )
        return composite_key_str(
            [None if v is None else _target_str(v) for v in vals]
        )
    return _NULL_VKEY if value is None else _target_str(value)


def index_watermark(spark: SparkSession, index_root: str) -> int | None:
    """Source version the index has consumed, or None before any build."""
    m = _latest_manifest(spark, index_root)
    if m is None:
        return None
    v = m.get("app_txns", {}).get(INDEX_APP)
    return int(v) if v is not None else None


def refresh_value_index(
    spark: SparkSession,
    table_root: str,
    index_root: str,
    col: str | list[str],
) -> int:
    """Bring the index up to the source's latest version. First call
    builds from the full table; later calls are CDC-driven over the
    changed buckets only. Same-version call is a no-op. Returns the
    consumed source version. ``col`` may be a list of columns
    (COMPOSITE index, round 8): the indexed value is the injective
    multi-column render, and lookups pass a matching tuple."""
    cols = _cols_of(col)
    manifest = _latest_manifest(spark, table_root)
    if manifest is None:
        raise FileNotFoundError(f"no committed txtable at {table_root}")
    latest = manifest["version"]
    since = index_watermark(spark, index_root)
    if since is not None and since >= latest:
        return latest
    key = manifest["key"]
    nb = manifest["num_buckets"]
    rebuilt = False
    if since is not None and (
        _read_manifest(spark, table_root, since)["num_buckets"] != nb
    ):
        # bucket-count evolution (rebucket_txtable) invalidates EVERY
        # stored bucket id: the CDC feed across it is empty (rows
        # unchanged), so detect the modulus change from the watermark
        # manifest and rebuild the whole index under the new modulus
        rebuilt = True
    if since is None or rebuilt:
        touched = sorted(int(b) for b in manifest["buckets"])
    else:
        feed = txtable_changes(spark, table_root, since, latest)
        touched = sorted(
            r[0]
            for r in feed.select(
                _bucket_of(key, nb).alias("b")
            ).distinct().collect()
        )
        if not touched:
            # metadata-only source commits (restore, compaction) move
            # files without changing rows: advance the watermark with an
            # empty merge (commits a manifest carrying the new app_txns,
            # touches no data files)
            empty = spark.createDataFrame([], _INDEX_SCHEMA)
            txlog_upsert(
                spark, empty, index_root, key="vkey",
                txn_app_id=INDEX_APP, txn_version=latest,
            )
            return latest
    new_arr = _value_arrays(
        _pairs_for_buckets(spark, table_root, manifest, cols, touched)
    )
    if since is None:
        txlog_upsert(
            spark, new_arr, index_root, key="vkey",
            num_buckets=INDEX_NUM_BUCKETS,
            txn_app_id=INDEX_APP, txn_version=latest,
        )
        return latest
    if rebuilt:
        # old-modulus bucket ids are meaningless whatever their value:
        # the recomputed full-table arrays ARE the index — values no
        # longer present anywhere drop via the full-sync merge
        txlog_upsert(
            spark, new_arr, index_root, key="vkey",
            txn_app_id=INDEX_APP, txn_version=latest,
            not_matched_by_source_delete=True,
        )
        return latest
    # incremental: rewrite the bucket arrays of exactly the DIRTY
    # values — those that had membership in a touched bucket (their
    # array must shed it unless recomputed back) OR have membership
    # now (their array must gain it, INCLUDING values whose other
    # buckets are untouched — hence the semi-join, not just overlap)
    t_lit = F.array(*[F.lit(int(b)) for b in touched])
    old = read_txtable(spark, index_root)
    relevant = (
        old.filter(F.arrays_overlap(F.col("buckets"), t_lit))
        .unionByName(old.join(new_arr.select("vkey"), "vkey", "left_semi"))
        .dropDuplicates(["vkey"])
        .select(
            "vkey",
            "value",
            F.array_except(F.col("buckets"), t_lit).alias("__keep"),
        )
    )
    merged = relevant.join(
        new_arr.select(
            "vkey",
            F.col("value").alias("__v2"),
            F.col("buckets").alias("__new"),
        ),
        "vkey",
        "full_outer",
    ).select(
        "vkey",
        F.coalesce("value", "__v2").alias("value"),
        F.sort_array(
            F.array_union(
                F.coalesce(F.col("__keep"), F.array().cast("array<int>")),
                F.coalesce(F.col("__new"), F.array().cast("array<int>")),
            )
        ).cast("array<int>").alias("buckets"),
    )
    gone = merged.filter(F.size("buckets") == 0).select("vkey")
    if not gone.isEmpty():
        txlog_delete(spark, index_root, keys=gone)
    txlog_upsert(
        spark,
        merged.filter(F.size("buckets") > 0),
        index_root,
        key="vkey",
        txn_app_id=INDEX_APP,
        txn_version=latest,
    )
    return latest


def index_selected_buckets(
    spark: SparkSession, index_root: str, value, col=None
) -> list[int]:
    """The source-bucket set a lookup would scan — resolved by a POINT
    read of the single index bucket the value's key hashes to (the
    python-side hash is bit-parity with ``F.xxhash64``; parity-tested
    in the writer suite), never an index scan. Exposed so tests and
    operators can assert pruning without touching data files.
    For a composite index pass ``col`` (the indexed column list) and a
    matching value tuple."""
    import pyarrow as pa

    m = _latest_manifest(spark, index_root)
    if m is None:
        return []
    from ..sources.txtable_writer import bucket_ids_for

    vk = _vkey_str(value, _cols_of(col) if col is not None else None)
    ib = int(bucket_ids_for(pa.array([vk]), "string", m["num_buckets"])[0])
    rows = _read_buckets_logical(spark, index_root, m, [ib])
    if rows is None:
        return []
    got = (
        rows.filter(F.col("vkey") == F.lit(vk)).select("buckets").collect()
    )
    return sorted(got[0]["buckets"]) if got else []


def _changed_since(
    spark: SparkSession, table_root: str, wm: int, latest: dict
) -> set[int] | None:
    """Source buckets whose file list or deletion-vector list changed
    since watermark version ``wm`` — the staleness the hybrid scan must
    raw-read. None when the watermark manifest is gone (vacuumed) or
    the bucket modulus changed (old bucket ids are meaningless after
    ``rebucket_txtable``) — index pruning cannot help there."""
    try:
        m_wm = _read_manifest(spark, table_root, wm)
    except FileNotFoundError:
        return None
    if m_wm["num_buckets"] != latest["num_buckets"]:
        return None
    return {int(b) for b in changed_buckets(m_wm, latest)}


def _stale_scan_buckets(
    spark: SparkSession,
    table_root: str,
    index_root: str,
    wm: int,
    latest: dict,
    value,
    cols: list[str] | None = None,
) -> list[int] | None:
    """Bucket set a STALE lookup must read to stay exact, or None when
    index pruning cannot help.

    A bucket untouched since the watermark holds exactly the values
    the index recorded for it (keys never move buckets while the
    modulus is fixed), so the index remains authoritative there; any
    bucket whose file list or deletion-vector list changed since the
    watermark must be scanned outright. Result:
    ``(index hits ∪ changed buckets) ∩ live buckets`` — the changed
    set bounds the extra IO by the table's staleness, not its size."""
    changed = _changed_since(spark, table_root, wm, latest)
    if changed is None:
        return None
    hits = set(index_selected_buckets(spark, index_root, value, col=cols))
    live = {int(b) for b in latest["buckets"]}
    return sorted((hits | changed) & live)


def lookup_with_index(
    spark: SparkSession,
    table_root: str,
    index_root: str,
    col: str | list[str],
    value,
    require_fresh: bool = False,
) -> DataFrame:
    """Equality read ``WHERE col = value`` through the index: resolves
    the bucket set holding the value from ONE index-bucket point read
    (metadata-plus-one-file), then scans ONLY those buckets with the
    filter re-applied (results exact by construction). A stale index
    (source committed past the watermark) degrades to a HYBRID scan —
    index-pruned untouched buckets plus a full read of only the
    buckets that changed since the watermark, O(staleness) not
    O(table) — and only falls all the way back to a full scan when
    pruning is impossible (no watermark yet, watermark manifest
    vacuumed away, or a rebucket changed the modulus).
    ``require_fresh`` raises instead. Composite: pass the indexed
    column LIST and a matching value tuple — the re-applied predicate
    is the AND of per-column null-safe equalities."""
    cols = _cols_of(col)
    manifest = _latest_manifest(spark, table_root)
    if manifest is None:
        raise FileNotFoundError(f"no committed txtable at {table_root}")
    wm = index_watermark(spark, index_root)
    if len(cols) == 1:
        pred = F.col(cols[0]).eqNullSafe(F.lit(value))
    else:
        vals = list(value)
        if len(vals) != len(cols):
            raise ValueError(
                f"composite lookup needs {len(cols)} values ({cols}), "
                f"got {len(vals)}"
            )
        pred = F.lit(True)
        for c, v in zip(cols, vals):
            pred = pred & F.col(c).eqNullSafe(F.lit(v))
    if wm is None or wm < manifest["version"]:
        if require_fresh:
            raise ValueError(
                f"value index at {index_root} is at source version {wm}, "
                f"table is at {manifest['version']} — refresh_value_index first"
            )
        scan = (
            None
            if wm is None
            else _stale_scan_buckets(spark, table_root, index_root, wm,
                                     manifest, value, cols=cols)
        )
        if scan is None:
            return read_txtable(spark, table_root).filter(pred)
        rows = _read_buckets_logical(spark, table_root, manifest, scan)
        if rows is None:
            return read_txtable(spark, table_root).filter(pred).limit(0)
        return rows.filter(pred)
    buckets = index_selected_buckets(spark, index_root, value, col=cols)
    # logical read: a merge-on-read-deleted row must never surface in
    # a lookup result (the vectors anti-apply before the predicate)
    rows = _read_buckets_logical(spark, table_root, manifest, buckets)
    if rows is None:
        return read_txtable(spark, table_root).filter(pred).limit(0)
    return rows.filter(pred)


def _range_cast_type(lower, upper) -> str:
    """Spark cast type for range bounds — the type the index's stored
    ``CAST(col AS STRING)`` renders round-trip exactly through."""
    import datetime as _dt

    probe = lower if lower is not None else upper
    if probe is None:
        raise ValueError("range lookup needs at least one bound")
    for other in (lower, upper):
        if other is not None and type(other) is not type(probe):
            raise ValueError(
                f"range bounds must share a type: {type(lower).__name__} "
                f"vs {type(upper).__name__}"
            )
    if isinstance(probe, bool):
        return "boolean"
    if isinstance(probe, int):
        return "bigint"
    if isinstance(probe, float):
        return "double"
    if isinstance(probe, _dt.datetime):
        return "timestamp"
    if isinstance(probe, _dt.date):
        return "date"
    if isinstance(probe, str):
        return "string"
    raise ValueError(
        f"unsupported range bound type {type(probe).__name__}"
    )


def index_selected_buckets_range(
    spark: SparkSession,
    index_root: str,
    lower,
    upper,
) -> list[int]:
    """The source-bucket set a RANGE lookup would scan: the union of
    the bucket arrays of every indexed value inside [lower, upper]
    (either bound may be None = open). Unlike the equality probe's
    single-bucket point read, a range must consult every index bucket
    — but the index is at VALUE grain, so this is a scan of one row
    per distinct value of ONE column, metadata-sized next to the data
    (and the result is bounded by the source's bucket count). NULL
    never joins a range (SQL comparison semantics)."""
    m = _latest_manifest(spark, index_root)
    if m is None:
        return []
    cast_t = _range_cast_type(lower, upper)
    rows = read_txtable(spark, index_root).filter(
        F.col("vkey") != F.lit(_NULL_VKEY)
    )
    val = F.col("value").cast(cast_t)
    if lower is not None:
        rows = rows.filter(val >= F.lit(lower))
    if upper is not None:
        rows = rows.filter(val <= F.lit(upper))
    got = (
        rows.select(F.explode("buckets").alias("b"))
        .distinct()
        .collect()
    )
    return sorted(int(r["b"]) for r in got)


def lookup_range_with_index(
    spark: SparkSession,
    table_root: str,
    index_root: str,
    col: str,
    lower=None,
    upper=None,
    require_fresh: bool = False,
) -> DataFrame:
    """Range read ``WHERE lower <= col <= upper`` through the value
    index (round 9 — the equality probe's sibling): resolves the
    bucket set from the value-grain index rows inside the bounds, then
    scans ONLY those buckets with the predicate re-applied (results
    exact by construction). Zone maps already prune ranges on DECLARED
    stats columns clustered by the layout; this serves range predicates
    on any OTHER indexed column, where value scatter defeats zone maps.
    Staleness degrades to the same HYBRID scan as the equality path
    (index-pruned untouched buckets + raw reads of buckets changed
    since the watermark, O(staleness) not O(table)); ``require_fresh``
    raises instead. Single-column indexes only — a composite render's
    string order is not the component order."""
    cols = _cols_of(col)
    if len(cols) != 1:
        raise ValueError(
            "range lookup supports single-column indexes only"
        )
    manifest = _latest_manifest(spark, table_root)
    if manifest is None:
        raise FileNotFoundError(f"no committed txtable at {table_root}")
    cast_t = _range_cast_type(lower, upper)  # validates bounds
    c = F.col(cols[0]).cast(cast_t)
    pred = F.lit(True)
    if lower is not None:
        pred = pred & (c >= F.lit(lower))
    if upper is not None:
        pred = pred & (c <= F.lit(upper))
    wm = index_watermark(spark, index_root)
    if wm is None or wm < manifest["version"]:
        if require_fresh:
            raise ValueError(
                f"value index at {index_root} is at source version {wm}, "
                f"table is at {manifest['version']} — refresh_value_index "
                "first"
            )
        if wm is None:
            return read_txtable(spark, table_root).filter(pred)
        changed = _changed_since(spark, table_root, wm, manifest)
        if changed is None:
            return read_txtable(spark, table_root).filter(pred)
        hits = set(
            index_selected_buckets_range(spark, index_root, lower, upper)
        )
        live = {int(b) for b in manifest["buckets"]}
        scan = sorted((hits | changed) & live)
        rows = _read_buckets_logical(spark, table_root, manifest, scan)
        if rows is None:
            return read_txtable(spark, table_root).filter(pred).limit(0)
        return rows.filter(pred)
    buckets = index_selected_buckets_range(spark, index_root, lower, upper)
    rows = _read_buckets_logical(spark, table_root, manifest, buckets)
    if rows is None:
        return read_txtable(spark, table_root).filter(pred).limit(0)
    return rows.filter(pred)
