"""The txtable log format: the one place that owns the table's file
layout, assembles, shards, reassembles and stat-encodes
``_commits/<version>.json``, and merges appended files into a
manifest's bucket bookkeeping. The manifest is the table's one log:
table properties and CHECK constraints are manifest fields too, so
every change to them is a commit and every snapshot is one state.

Every writer builds its next manifest through :func:`next_manifest` —
the JVM verbs (``sinks/txlog.py``, ``sinks/merge.py``,
``sinks/copy_into.py``) and the Python DataSource writer
(``sources/txtable_writer.py``) alike — so a field added to the format
is carried (or deliberately reset) in exactly one place. Both blind
appends, ``format("txtable")`` APPEND and COPY INTO, fold their new
files in with :func:`append_files`. Readers and writers on both sides
name and list log files with :func:`commit_rel` and
:func:`versions_in`, refuse any manifest outside the one format every
writer commits with :func:`check_format` (it always records the
table's ``schema``, ``properties``, ``constraints`` and a
``committed_at_ms`` stamp, and keeps COPY
INTO history in ``copylog/`` sidecars, never in the manifest), refuse
unknown ``requires`` tokens with :func:`check_features`, and resolve
column mapping with :func:`mapping_of`. Both txtable readers — the
JVM ``read_txtable`` / ``txtable_changes`` and the Arrow
``format("txtable")`` — plan through the read-planning functions at
the end of this module: the files and deletion vectors a bucket scan
opens, the buckets a change window must diff, the version a timestamp
names, and the rename check.
Shard, listing and file IO is the only thing that differs between the
JVM-FS and the Python-fs paths; this module takes it as a callable, as
the names a caller listed, or as the values a caller read.

Pure Python on purpose (no pyspark, no py4j): the DataSource's
driver-side worker imports it without a SparkSession.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import time
import uuid

FEATURE_DV = "deletion-vectors"
FEATURE_SHARDS = "manifest-shards"
COMMITS_DIR = "_commits"
SHARDS_DIR = "_manifest_shards"
DEFAULT_SHARD_GROUPS = 32
BLOOM_BITS = 1024  # default creation-time bloom filter size

# Fields every manifest carries, in output order, with the value a new
# table starts from (``key``/``num_buckets`` have none: a creating
# commit must state them).
_REQUIRED = {
    "buckets": dict,
    "row_counts": dict,
    "app_txns": dict,
    "stats_columns": list,
    "bucket_stats": dict,
    "bloom_columns": list,
    "bucket_blooms": dict,
    "bloom_bits": lambda: BLOOM_BITS,
    "properties": dict,
    "constraints": dict,
}

# Fields carried only while non-empty: an empty value is written as an
# absent key, which keeps manifests small. ``schema`` is never empty:
# every table has at least its key column.
_OPTIONAL = (
    "bucket_nulls",
    "schema",
    "dropped_columns",
    "generated_columns",
    "identity_columns",
    "identity_high_water",
    "column_defaults",
    "bucket_dvs",
    "dv_counts",
    "copy_log",
    "manifest_sharding",
)

# Carried from the base snapshot into the next version unless a verb
# changes them. Everything else — ``operation``, ``committed_at_ms``,
# ``restored_from_version``, shard pointers, ``requires`` — describes
# one commit and is never carried.
CARRIED = ("key", "num_buckets", *_REQUIRED, *_OPTIONAL)


def _copy(v):
    return v.copy() if isinstance(v, (dict, list)) else v


def next_manifest(base: dict | None, operation: str, **changes) -> dict:
    """The manifest of the version after ``base`` (``None``: a table's
    first commit, or a REPLACE that starts over).

    Carries every :data:`CARRIED` field of ``base``, applies the verb's
    ``changes`` (a ``None`` value removes the field), drops empty
    optional fields, keeps deletion-vector counts only for buckets that
    still have vectors (and the identity high-water mark only beside
    identity columns), derives ``requires`` from the result, and stamps
    the operation and the commit time. ``version`` defaults to
    ``base["version"] + 1`` (0 without a base). A creating commit must
    state ``key``, ``num_buckets`` and ``schema``, so no writer
    publishes a manifest that :func:`check_format` refuses."""
    out: dict = {"version": 0 if base is None else base["version"] + 1}
    if base is not None:
        out.update({k: _copy(base[k]) for k in CARRIED if k in base})
    for k, make in _REQUIRED.items():
        out.setdefault(k, make())
    out.update(changes)
    dvs = {b: r for b, r in (out.get("bucket_dvs") or {}).items() if r}
    out["bucket_dvs"] = dvs
    out["dv_counts"] = {
        b: int(n) for b, n in (out.get("dv_counts") or {}).items() if b in dvs
    }
    if not out.get("identity_columns"):
        out.pop("identity_high_water", None)
    for k in list(out):
        if out[k] is None or (k in _OPTIONAL and not out[k]):
            del out[k]
    missing = {"key", "num_buckets", "schema"} - set(out)
    if missing:
        raise ValueError(f"a creating commit must state {sorted(missing)}")
    out = {**{k: out.pop(k) for k in ("version", *CARRIED) if k in out}, **out}
    if dvs:
        out["requires"] = [FEATURE_DV]
    out["operation"] = operation
    out["committed_at_ms"] = int(time.time() * 1000)
    return out


def dvs_without(base: dict | None, buckets) -> dict:
    """``base``'s deletion vectors minus those of ``buckets`` — the
    ``bucket_dvs`` change of a verb that rewrote (materialized) those
    buckets; :func:`next_manifest` drops the matching counts."""
    cleared = {str(b) for b in buckets}
    return {
        b: r
        for b, r in (base or {}).get("bucket_dvs", {}).items()
        if b not in cleared
    }


# ---------------------------------------------------------------------------
# File layout: versioned log files, file references, column mapping and
# the table-features gate. Callers do the listing and reading; these
# functions decide what the names and fields mean.
# ---------------------------------------------------------------------------


def commit_rel(version: int) -> str:
    """Root-relative path of ``version``'s manifest in ``_commits/``."""
    return f"{COMMITS_DIR}/{version:020d}.json"


def versions_in(names) -> list[int]:
    """The version numbers among a log directory's entry ``names``,
    ascending. Dot-prefixed entries are protocol internals, never
    versions: ``.tmp-*`` is a file being written (or a crash leftover)
    and ``.quarantine-*`` an unparsable manifest set aside by a
    reader."""
    out = []
    for name in names:
        if name.startswith(".") or not name.endswith(".json"):
            continue
        try:
            out.append(int(name[: -len(".json")]))
        except ValueError:
            continue
    return sorted(out)


def is_absolute_ref(rel: str) -> bool:
    """True for a manifest file reference that is not relative to the
    table root: a shallow clone's manifest points into its source
    table's immutable files with a leading '/', a scheme, or the
    'file:' form."""
    return rel.startswith("/") or "://" in rel or rel.startswith("file:")


def norm_fs_path(p: str) -> str:
    """Canonical form for comparing local paths: 'file:' schemes
    (``file:///x``, ``file:/x``) collapse to the plain absolute path;
    other schemes pass through."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


def physical_name(field: dict) -> str:
    """A schema field's physical (in-file) column name."""
    return (field.get("metadata") or {}).get("physical") or field["name"]


def mapping_of(fields) -> dict[str, str]:
    """logical → physical names for the schema ``fields`` whose names
    differ (column mapping, Delta's name mode). Empty: mapping is
    inactive, the fast path."""
    return {
        f["name"]: physical_name(f)
        for f in fields
        if physical_name(f) != f["name"]
    }


def decimal_columns(fields) -> set[str]:
    """Names of the decimal-typed schema ``fields``: their zone-map
    stats are stringified Decimals and compare by value."""
    return {
        f["name"]
        for f in fields
        if str(f.get("type", "")).startswith("decimal")
    }


class UnsupportedTableFeatureError(NotImplementedError):
    """The manifest requires a table feature this code path does not
    support. Refusing is the only safe answer: e.g. ignoring deletion
    vectors would resurrect deleted rows."""


def check_features(
    manifest: dict, supported=frozenset(), op: str = "operate on"
) -> None:
    """Refuse (Delta's table-features model) a manifest whose
    ``requires`` names a feature outside ``supported``."""
    missing = sorted(set(manifest.get("requires", [])) - set(supported))
    if not missing:
        return
    hint = (
        " For deletion vectors, materialize them first (compact_txtable) "
        "or use the JVM verbs (read_txtable / txlog_upsert / ...), which "
        "support them."
        if FEATURE_DV in missing
        else ""
    )
    raise UnsupportedTableFeatureError(
        f"cannot {op} this txtable: manifest version "
        f"{manifest.get('version')} requires table feature(s) "
        f"{missing} unsupported here.{hint}"
    )


def check_format(manifest: dict) -> None:
    """Refuse a parsed ``_commits/<v>.json`` outside the one manifest
    format: every commit records the table's ``schema``, its
    ``properties`` and ``constraints`` (``{}`` when empty) and its
    ``committed_at_ms`` stamp, and COPY INTO history lives in
    ``copylog/`` sidecars, never embedded as ``copy_files``. Both
    readers run this on every manifest they parse. It raises
    :class:`UnsupportedTableFeatureError`, never a ValueError, so no
    reader quarantines a well-formed manifest of an older format."""
    unrecorded = [
        k for k in ("schema", "properties", "constraints") if k not in manifest
    ]
    if unrecorded:
        problem = f"records no {unrecorded[0]}"
    elif "committed_at_ms" not in manifest:
        problem = "has no committed_at_ms stamp"
    elif "copy_files" in manifest:
        problem = "embeds its COPY INTO history (copy_files)"
    else:
        return
    raise UnsupportedTableFeatureError(
        f"txtable manifest version {manifest.get('version')} {problem}: it "
        "predates the current manifest format, which this engine no "
        "longer reads"
    )


# ---------------------------------------------------------------------------
# Per-bucket-group manifest shards (the Iceberg manifest-list idea). An
# unsharded commit publishes ONE root json carrying every bucket's file
# list: O(live files) bytes per commit. A SHARDED table stores the file
# lists in immutable ``_manifest_shards/<uuid>.json`` files, one per
# bucket group ``bucket % groups``; the root carries only O(groups)
# pointers plus the per-bucket scalars. A commit rewrites ONLY the
# shards of groups it touched — untouched groups re-point at their
# immutable prior shard (content-compared against prev, so reuse is
# proven, not assumed) — making commit metadata cost O(touched files +
# groups). Shards follow the data-file rules: invisible until a
# committed root references them, immutable after, swept by vacuum
# when no kept root points at them. The root carries ``requires:
# ["manifest-shards"]`` so a reader that predates sharding refuses
# loudly instead of seeing an empty table.
# ---------------------------------------------------------------------------


def shard_groups_of(cfg: dict | None) -> int | None:
    if not cfg:
        return None
    return max(1, int(cfg.get("groups", DEFAULT_SHARD_GROUPS)))


def _by_group(buckets: dict, groups: int) -> dict[int, dict[str, list]]:
    out: dict[int, dict[str, list]] = {}
    for b, rels in buckets.items():
        if rels:
            out.setdefault(int(b) % groups, {})[str(b)] = list(rels)
    return out


def deflate(manifest: dict, prev: dict | None, write_shard) -> dict:
    """Commit-side counterpart of :func:`inflate`: on a sharded table
    (``manifest_sharding`` set), move the bucket file lists out of the
    root into per-group shard files, reusing ``prev``'s immutable shard
    for every group whose content is UNCHANGED (direct comparison
    against prev's inflated buckets — no IO). ``write_shard(rel,
    payload)`` writes one shard file at a root-relative path. Mutates
    and returns ``manifest``."""
    groups = shard_groups_of(manifest.pop("manifest_sharding", None))
    if groups is None:
        manifest.pop("manifest_shards", None)
        return manifest
    by_group = _by_group(manifest.pop("buckets", None) or {}, groups)
    prev_ptrs: dict[int, str] = {}
    prev_groups: dict[int, dict[str, list]] = {}
    if (
        prev is not None
        and prev.get("manifest_shards")
        and shard_groups_of(prev.get("manifest_sharding")) == groups
    ):
        prev_ptrs = {int(g): rel for g, rel in prev["manifest_shards"].items()}
        prev_groups = _by_group(prev.get("buckets") or {}, groups)
    ptrs: dict[str, str] = {}
    for g in sorted(by_group):
        if g in prev_ptrs and prev_groups.get(g) == by_group[g]:
            ptrs[str(g)] = prev_ptrs[g]
        else:
            rel = f"{SHARDS_DIR}/{uuid.uuid4().hex}.json"
            write_shard(rel, {"buckets": by_group[g]})
            ptrs[str(g)] = rel
    manifest["manifest_sharding"] = {"groups": groups}
    manifest["manifest_shards"] = ptrs
    manifest["requires"] = sorted(
        set(manifest.get("requires", [])) | {FEATURE_SHARDS}
    )
    return manifest


def inflate(manifest: dict, read_shard) -> dict:
    """Resolve a sharded root manifest to the flat in-memory shape every
    consumer expects: read the shard files its ``manifest_shards``
    pointers name (``read_shard(rel) -> dict``) and reassemble
    ``buckets``. The ``manifest-shards`` token is dropped from
    ``requires`` (this reader just satisfied it); :func:`deflate`
    re-adds it at commit. Unsharded manifests pass through untouched.
    A shard that does not parse raises RuntimeError — it means a
    corrupt SHARD, so a reader must not quarantine the root over it."""
    ptrs = manifest.get("manifest_shards")
    if ptrs is None:
        return manifest
    buckets: dict[str, list] = {}
    for g in sorted(ptrs, key=int):
        try:
            payload = read_shard(ptrs[g])
        except ValueError as e:  # incl. JSONDecodeError
            raise RuntimeError(
                f"txtable: corrupt manifest shard {ptrs[g]!r} (group {g})"
            ) from e
        for b, rels in payload.get("buckets", {}).items():
            buckets[b] = list(rels)
    manifest["buckets"] = buckets
    req = [r for r in manifest.get("requires", []) if r != FEATURE_SHARDS]
    if req:
        manifest["requires"] = req
    else:
        manifest.pop("requires", None)
    return manifest


# ---------------------------------------------------------------------------
# Zone-map stat encoding, shared by every stats writer (JVM publish,
# ANALYZE, the Python writer) and the zone-map pruning tier
# (``sources/pushdown.zone_map_buckets``).
# ---------------------------------------------------------------------------


def stat_value(v):
    """JSON-safe zone-map stat: primitives pass through; dates,
    timestamps and decimals stringify with ``str`` (ISO date/timestamp
    strings order lexicographically = chronologically). A tz-aware
    timestamp is first shifted to naive local time — the form PySpark
    collects ``TimestampType`` values in — so a pushed-down UTC literal
    and a stored stat compare like-for-like. Decimal strings do NOT
    order lexicographically ('9.5' > '12.0'): compare them through
    :func:`stat_cmp_pair`."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        v = v.astimezone().replace(tzinfo=None)
    return str(v)


def stat_cmp_pair(a, b, decimal: bool):
    """(a, b) coerced so ``a < b`` compares by VALUE for zone-map
    pruning. ``decimal=True`` means the column is decimal-typed, so its
    string stats are stringified Decimals: string pairs re-parse
    through Decimal. Otherwise strings pass through: for STRING columns
    Spark's own predicate semantics ARE lexicographic."""
    if decimal and isinstance(a, str) and isinstance(b, str):
        try:
            return _dec.Decimal(a), _dec.Decimal(b)
        except _dec.InvalidOperation:
            return a, b
    return a, b


def widen(prev: list | None, new: list | None, decimal: bool = False):
    """Union of two [lo, hi] stat intervals; ``None`` (no information)
    poisons the result — absent stats must stay absent so the pruning
    reader conservatively keeps the bucket. ``decimal=True`` (the
    column is decimal-typed, so string stats are stringified Decimals):
    string pairs COMPARE by Decimal value — '9.5' vs '12.0' must pick
    hi='12.0', never the lexical '9.5' — while the stored strings pass
    through unchanged (the rule :func:`stat_cmp_pair` applies). Other
    strings compare lexically, as Spark compares STRING values.
    Incomparable values (a schema-evolved type) drop the stat."""
    if prev is None or new is None:
        return None

    def _key(v):
        if decimal and isinstance(v, str):
            try:
                return _dec.Decimal(v)
            except _dec.InvalidOperation:
                return v
        return v

    try:
        lo = prev[0] if _key(prev[0]) <= _key(new[0]) else new[0]
        hi = prev[1] if _key(prev[1]) >= _key(new[1]) else new[1]
    except TypeError:
        return None
    return [lo, hi]


# ---------------------------------------------------------------------------
# Append algebra, shared by the two blind appends: ``format("txtable")``
# APPEND/OVERWRITE (``sources/txtable_writer.commit_files``) and COPY
# INTO (``sinks/copy_into.copy_into``). New files never overlap old
# ones, so bookkeeping merges without reading any existing file.
# ---------------------------------------------------------------------------

def _or_words(old: dict, new: dict) -> dict:
    out = dict(old)
    for k, hx in new.items():
        pv = out.get(k)
        out[k] = format(int(hx, 16) | (int(pv, 16) if pv else 0), "016x")
    return out


def append_files(
    prev: dict | None,
    entries,
    stats_columns,
    bloom_columns,
    decimal_columns=frozenset(),
) -> dict:
    """``prev``'s bucket bookkeeping with ``entries`` appended: the
    ``buckets``, ``row_counts``, ``bucket_stats``, ``bucket_blooms`` and
    ``bucket_nulls`` changes for :func:`next_manifest`. ``prev=None``
    appends to an empty snapshot (an overwrite).

    Each entry is ``(bucket, files, rows, stats, blooms, nulls)`` for
    files newly written into one bucket; entries apply in order,
    so a later entry sees an earlier one's files as prior files.

    - Files join the bucket's list and ``rows`` add to its row count.
    - ``stats`` (``{col: [lo, hi]}``): bounds widen by value
      (:func:`widen`; ``decimal_columns`` compare as Decimals). A
      column that is absent or ``[None, None]`` holds only nulls, so
      the old bounds stay exact; a ``None`` range is unknown and the
      column goes stat-less for the bucket. A bucket whose prior files
      have no stats, or no range for a column, stays without one.
    - ``nulls`` (``{col: n}``) sum; a column missing from them was
      absent from the batch, so all ``rows`` are null there. ``None``,
      or a bucket whose prior files have no counts, loses its counts.
    - ``blooms`` (``{col: {word: hex16}}``) OR into the bucket's
      filter, one word map per bloom column (empty when no word is
      set); ``None`` (the writer could not hash a column's type) or a
      bucket whose prior files lost their filter leaves the bucket
      without one.
    """
    prev = prev or {}
    buckets = {b: list(fl) for b, fl in prev.get("buckets", {}).items()}
    row_counts = dict(prev.get("row_counts", {}))
    bucket_stats = {b: dict(s) for b, s in prev.get("bucket_stats", {}).items()}
    bucket_blooms = {b: dict(w) for b, w in prev.get("bucket_blooms", {}).items()}
    bucket_nulls = {b: dict(n) for b, n in prev.get("bucket_nulls", {}).items()}
    for b, files, rows, stats, blooms, nulls in entries:
        bs = str(b)
        prior = bool(buckets.get(bs))
        buckets[bs] = buckets.get(bs, []) + list(files)
        row_counts[bs] = int(row_counts.get(bs, 0)) + int(rows)
        if stats_columns:
            if nulls is None or (prior and bs not in bucket_nulls):
                bucket_nulls.pop(bs, None)
            else:
                cur_n = bucket_nulls.get(bs, {})
                bucket_nulls[bs] = {
                    c: int(cur_n.get(c, 0)) + int(nulls.get(c, rows))
                    for c in stats_columns
                }
            merged = {}
            # prior files without recorded stats stay without: any range
            # would be too narrow for their rows
            if not prior or bs in bucket_stats:
                old = bucket_stats.get(bs, {}) if prior else {}
                for c in stats_columns:
                    new = stats.get(c, [None, None])
                    if new is None:
                        continue  # unknown range: the column goes stat-less
                    if list(new) == [None, None]:
                        w = old.get(c)  # all null: old bounds stay exact
                    elif prior:
                        w = widen(old.get(c), new, decimal=c in decimal_columns)
                    else:
                        w = new
                    if w is not None:
                        merged[c] = w
            if merged:
                bucket_stats[bs] = merged
            else:
                bucket_stats.pop(bs, None)
        if bloom_columns:
            cur = bucket_blooms.get(bs)
            if blooms is None or (prior and cur is None):
                bucket_blooms.pop(bs, None)
            else:
                bucket_blooms[bs] = {
                    c: _or_words((cur or {}).get(c, {}), blooms.get(c) or {})
                    for c in bloom_columns
                }
    return {
        "buckets": buckets,
        "row_counts": row_counts,
        "bucket_stats": bucket_stats,
        "bucket_blooms": bucket_blooms,
        "bucket_nulls": bucket_nulls,
    }


# ---------------------------------------------------------------------------
# Read planning, shared by the two txtable readers. The JVM readers
# (``sinks/txlog.py``: ``read_txtable``, ``txtable_changes``, the
# value index's staleness probe) and the Arrow DataSource
# (``sources/txtable_source.py``) differ only in how they read files and
# manifests; what they open and which version they read is decided
# here. The bucket-pruning tiers live beside the Bloom hash in
# ``sources/pushdown.py``.
# ---------------------------------------------------------------------------


def scan_files(manifest: dict, bucket_ids) -> tuple[list[str], list[str]]:
    """What a scan of ``bucket_ids`` opens: their data-file refs in
    bucket order, and the deletion-vector file refs that apply to them,
    each once (a flat sidecar listed by many buckets is read once; the
    vectors name their rows by data-file ref)."""
    bucket_ids = [str(b) for b in bucket_ids]
    dvs = manifest.get("bucket_dvs", {})
    rels = [r for b in bucket_ids for r in manifest["buckets"].get(b, [])]
    return rels, sorted({r for b in bucket_ids for r in dvs.get(b, [])})


def changed_buckets(old: dict, new: dict) -> list[str]:
    """The buckets a change window from snapshot ``old`` to ``new`` must
    diff, ascending: a bucket changed iff its file list or its
    deletion-vector list differs. Data files are immutable, so equal
    lists prove equal rows; a merge-on-read DELETE changes only the
    vector list."""

    def sig(m: dict, b: str):
        return m["buckets"].get(b), m.get("bucket_dvs", {}).get(b)

    return sorted(
        (
            b
            for b in set(old["buckets"]) | set(new["buckets"])
            if sig(old, b) != sig(new, b)
        ),
        key=int,
    )


def check_no_rename(old: dict, new: dict) -> None:
    """Refuse a change window across a column rename: which name would
    the feed report? (Delta refuses CDF reads across column-mapping
    schema changes too.) Raises ValueError naming the physical columns
    that carry different logical names in the two snapshots."""
    names: dict[str, set] = {}
    for m in (old, new):
        for f in m["schema"]:
            names.setdefault(physical_name(f), set()).add(f["name"])
    conflicted = sorted(p for p, n in names.items() if len(n) > 1)
    if conflicted:
        raise ValueError(
            f"cannot read changes across a column rename (physical "
            f"column(s) {conflicted} carry different names between "
            f"versions {old.get('version')} and {new.get('version')}); "
            "read each side with time travel (VERSION AS OF) instead"
        )


def version_at_timestamp(commits, ts_ms: int, side: str) -> int | None:
    """The version a timestamp names, or None when no version
    qualifies (each caller picks its own answer: raise, or ``-1`` for
    the empty table before the first commit).

    ``commits`` yields ``(version, committed_at_ms)`` in version order
    and is consumed only up to the answer, so a lazy reader stops
    reading manifests there. ``committed_at_ms`` is the writer's wall
    clock and need not increase, so each commit's effective time is
    Delta's monotonic adjustment: max(its own time, the previous
    effective time + 1). ``side`` picks the version against those
    times:

    - ``"at_or_before"``: the last version at or before ``ts_ms``
      (``TIMESTAMP AS OF``, a change feed's ending bound);
    - ``"at_or_after"``: the first version at or after it (a change
      feed's starting commit);
    - ``"before"``: the last version strictly before it (the base
      snapshot a change feed starting at ``ts_ms`` diffs against).

    All three split the log at one point: ``before`` and
    ``at_or_after`` are neighbours, and ``at_or_before`` is one of
    them."""
    if side not in ("at_or_before", "at_or_after", "before"):
        raise ValueError(f"unknown timestamp side {side!r}")
    found = None
    eff = None
    for v, t in commits:
        eff = int(t) if eff is None else max(int(t), eff + 1)
        if eff > ts_ms or (eff == ts_ms and side != "at_or_before"):
            return v if side == "at_or_after" else found
        found = v
    return None if side == "at_or_after" else found
