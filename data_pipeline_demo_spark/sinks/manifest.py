"""The txtable manifest format: the one place that assembles, shards,
reassembles and stat-encodes ``_commits/<version>.json``.

Every writer builds its next manifest through :func:`next_manifest` —
the JVM verbs (``sinks/txlog.py``, ``sinks/merge.py``,
``sinks/copy_into.py``) and the Python DataSource writer
(``sources/txtable_writer.py``) alike — so a field added to the format
is carried (or deliberately reset) in exactly one place. Shard IO is
the only thing that differs between the JVM-FS and the Python-fs paths;
:func:`deflate` and :func:`inflate` take it as a callable.

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
}

# Fields carried only while non-empty: an empty value is written as an
# absent key (the shape readers of older manifests expect).
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
    "copy_files",
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
    ``base["version"] + 1`` (0 without a base)."""
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
    missing = {"key", "num_buckets"} - set(out)
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
# ANALYZE, the Python writer) and every pruning reader
# (``read_txtable(prune_between=...)``, the DataSource pushdown).
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


def stat_cmp_pair(a, b, decimal_bound: bool):
    """(a, b) coerced so ``a < b`` compares by VALUE for zone-map
    pruning. ``decimal_bound=True`` means the caller's bound was a
    Decimal (so the column is decimal-typed and its string stats are
    stringified Decimals): string pairs re-parse through Decimal. With
    a non-Decimal bound strings pass through: for STRING columns
    Spark's own predicate semantics ARE lexicographic."""
    if decimal_bound and isinstance(a, str) and isinstance(b, str):
        try:
            return _dec.Decimal(a), _dec.Decimal(b)
        except _dec.InvalidOperation:
            return a, b
    return a, b


def zone_maps_overlap(stats: dict | None, bounds: dict[str, tuple]) -> bool:
    """False iff a bucket's zone maps (``stats``: ``{col: [min, max]}``)
    prove that no row lies inside every ``{col: (lo, hi)}`` window
    (``None`` bound = open side). Buckets without stats, and all-null
    columns, are kept. Raises TypeError for a bound that does not
    compare with the stored stats; each reader picks its own answer."""
    if stats is None:
        return True
    for c, (lo, hi) in bounds.items():
        mn, mx = stats.get(c, [None, None])
        if mn is None or mx is None:
            continue
        dec = isinstance(lo, _dec.Decimal) or isinstance(hi, _dec.Decimal)
        lo_s, hi_s = stat_value(lo), stat_value(hi)
        if lo_s is not None:
            a, b = stat_cmp_pair(mx, lo_s, dec)
            if a < b:
                return False
        if hi_s is not None:
            a, b = stat_cmp_pair(mn, hi_s, dec)
            if a > b:
                return False
    return True
