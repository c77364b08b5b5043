"""Planning-time pruning for the ``format("txtable")`` data source.

Spark 4.1's Python DataSource filter pushdown
(``DataSourceReader.pushFilters``, gated by
``spark.sql.python.filterPushdown.enabled`` — the engine session factory
turns it on) hands the reader the query's AND-ed predicates at planning
time.  We use them for METADATA-ONLY partition pruning, four tiers, all
conservative:

- **zone maps** — manifest ``bucket_stats`` ``[min, max]`` per stats
  column: a bucket whose recorded range cannot intersect the predicate's
  bounds is never scanned.  Iceberg's manifest-stats role.
- **Bloom filters** — ``EqualTo``/``In`` on a declared Bloom column keep
  only buckets whose filter might hold a literal.
- **null counts** — ``IsNull``/``IsNotNull`` on a stats column skip
  buckets with no nulls / only nulls.
- **key buckets** — ``EqualTo``/``In`` on the table's bucketing key hash
  the literal with the SAME function the writer used
  (``pmod(xxhash64(key), num_buckets)``, ``sinks/upsert._bucket_of``): a point
  lookup plans exactly the one bucket that can hold the key, independent
  of any stats.

The zone-map, Bloom and null-count tiers are one function each
(``zone_map_buckets``, ``bloom_buckets``, ``null_count_buckets``),
shared with ``sinks.txlog.read_txtable``'s ``prune_between`` /
``bloom_eq`` / ``bloom_in`` / ``prune_is_null``.  Each entry point keeps
its own input policy: ``read_txtable`` refuses an undeclared column, a
NULL probe or an incomparable bound, while pushdown skips a filter it
cannot use.

Every filter is handed back to Spark unhandled, so Spark re-applies all
predicates post-scan: pruning can only *skip* buckets that provably hold
no matching row — results stay exact even when a bucket has no recorded
stats (kept) or a literal's type is unsupported (tier skipped).

``xxh64`` below is a pure-Python implementation of the public XXH64
algorithm (Yann Collet, BSD-licensed spec) applied to Spark's column
encoding: integral values hash their widened 4-/8-byte two's-complement
little-endian form (int32-family vs int64 matters — Spark's hashInt and
hashLong differ), strings their UTF-8 bytes, seed 42.  Parity with
``pyspark.sql.functions.xxhash64`` is asserted in
``tests/test_txtable_source.py``.

Reference scope note: the reference pipeline has no scan pruning at all —
every run re-reads whole CSVs (``/root/reference/data_pipeline.py:299``);
this module exists for the 100 TB path where metadata skipping is the
difference between a point lookup and a full-table scan.
"""

from __future__ import annotations

import struct

from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)

import decimal as _dec

from ..sinks.manifest import (
    BLOOM_BITS,
    decimal_columns,
    stat_cmp_pair,
    stat_value,
)

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` — unsigned 64-bit result.  Matches Spark's
    ``XXH64.hashUnsafeBytes`` (and, via the 4-/8-byte encodings,
    ``hashInt``/``hashLong``)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    return _fmix(h)


def bucket_of_literal(value, num_buckets: int, key_kind: str) -> int | None:
    """The bucket id ``pmod(xxhash64(value), num_buckets)`` lands in, or
    None when the literal can't be hashed with writer parity (unsupported
    type / out-of-range) — callers must then skip key-bucket pruning.

    ``key_kind``: ``"int32"`` (byte/short/int columns — Spark hashes the
    4-byte form), ``"int64"`` (long), or ``"string"``.
    """
    if isinstance(value, bool):
        return None
    try:
        if key_kind == "string" and isinstance(value, str):
            data = value.encode("utf-8")
        elif key_kind == "int64" and isinstance(value, int):
            data = struct.pack("<q", value)
        elif key_kind == "int32" and isinstance(value, int):
            data = struct.pack("<i", value)
        else:
            return None
    except struct.error:
        return None
    h = xxh64(data, 42)
    if h >= 1 << 63:  # Spark's hash is a SIGNED long; pmod of the signed value
        h -= 1 << 64
    return h % num_buckets


# --- manifest bloom-index probe (shared with sinks.txlog) ------------------
#
# Positions replicate the JVM build expression
# ``pmod(xxhash64(CAST(col AS STRING), j), bits)``: Spark's multi-arg
# xxhash64 folds left to right (argument hashed with the running
# result as seed) and ``F.lit(j)`` is an INT literal, so the depth
# index hashes through the 4-byte path. Parity pinned in
# tests/test_bloom_index.py. Filters are stored SPARSE — a JSON map
# {word_idx: 16-hex-char word} holding only non-zero 64-bit words —
# so ``bloom_bits`` can be sized to the data (≈10 bits per expected
# distinct value per bucket for ~1% fpp) without either a fixed
# expression count at build time or dense manifest blobs.

BLOOM_K = 3


def bloom_probe_positions(value, bits: int = BLOOM_BITS) -> list[int]:
    """The K filter positions a string/int/date literal hashes to, or
    raises for unsupported probe types."""
    import datetime as _dt

    if isinstance(value, bool) or not isinstance(value, (str, int, _dt.date)):
        raise ValueError(
            f"bloom probes support string/int/date literals (values hash "
            f"via CAST AS STRING); got {type(value).__name__}"
        )
    h1 = xxh64(str(value).encode("utf-8"), 42)
    out = []
    for j in range(BLOOM_K):
        h2 = xxh64(struct.pack("<i", j), seed=h1)
        signed = h2 - (1 << 64) if h2 >= 1 << 63 else h2
        out.append(signed % bits)
    return out


def bloom_might_contain(words: dict, positions: list[int]) -> bool:
    """``words``: the sparse {word_idx(str): hex16} filter map."""
    for pos in positions:
        w = words.get(str(pos // 64))
        if w is None or not (int(w, 16) >> (pos % 64)) & 1:
            return False
    return True


# a bucketing key's recorded (Spark JSON) type → the hash encoding the
# writer used; other types (dates, decimals, ...) skip the key tier
_KEY_KINDS = {
    "string": "string",
    "long": "int64",
    "integer": "int32",
    "short": "int32",
    "byte": "int32",
}


def _key_kind(manifest: dict) -> str | None:
    """The hash encoding of the table key's recorded type, or None."""
    for f in manifest["schema"]:
        if f["name"] == manifest["key"]:
            return _KEY_KINDS.get(f["type"])
    return None


def _one_col(f) -> str | None:
    attr = f.attribute
    return attr[0] if isinstance(attr, tuple) and len(attr) == 1 else None


def _eq_values(f) -> list:
    """The non-null literals an ``EqualTo``/``In`` filter accepts (empty
    for any other filter shape)."""
    if isinstance(f, EqualTo):
        return [] if f.value is None else [f.value]
    if isinstance(f, In):
        return [v for v in f.value if v is not None]
    return []


def collect_bounds(filters) -> dict[str, tuple]:
    """Per-column [lo, hi] interval implied by the AND of ``filters``.
    Strict comparisons are relaxed to inclusive — conservative for
    pruning.  Unsupported shapes contribute nothing."""
    bounds: dict[str, tuple] = {}

    def tighten(col, lo, hi):
        cl, ch = bounds.get(col, (None, None))
        if lo is not None and (cl is None or _gt(lo, cl)):
            cl = lo
        if hi is not None and (ch is None or _gt(ch, hi)):
            ch = hi
        bounds[col] = (cl, ch)

    def _gt(a, b):
        try:
            return a > b
        except TypeError:
            return False

    for f in filters:
        col = _one_col(f)
        if col is None:
            continue
        vals = _eq_values(f)
        if vals:
            try:
                tighten(col, min(vals), max(vals))
            except TypeError:
                pass
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            tighten(col, f.value, None)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            tighten(col, None, f.value)
    return bounds


def key_equality_buckets(filters, key: str, num_buckets: int, key_kind: str):
    """Set of bucket ids that can satisfy the key-equality filters, or
    None when no usable equality exists (or a literal can't be hashed)."""
    if key_kind is None:
        return None
    out: set[int] | None = None
    for f in filters:
        if _one_col(f) != key:
            continue
        if isinstance(f, EqualTo) and f.value is not None:
            vals = [f.value]
        elif isinstance(f, In):
            vals = [v for v in f.value if v is not None]
        else:
            continue
        bs = set()
        for v in vals:
            b = bucket_of_literal(v, num_buckets, key_kind)
            if b is None:
                return None  # one unhashable literal poisons the tier
            bs.add(b)
        out = bs if out is None else (out & bs)
    return out


# --- bucket-pruning tiers: the buckets of ``live`` that may match ----------


def zone_maps_overlap(
    stats: dict | None, bounds: dict[str, tuple], decimal: set[str]
) -> bool:
    """False iff a bucket's zone maps (``stats``: ``{col: [min, max]}``)
    prove that no row lies inside every ``{col: (lo, hi)}`` window
    (``None`` bound = open side). ``decimal``: the decimal-typed
    columns, whose string stats compare by value. Buckets without
    stats, and all-null columns, are kept, and so are the string stats
    of any other column under a numeric bound: Spark compares those
    values as numbers, the stats only order them as text. Raises
    TypeError for a bound that does not compare with the stored
    stats."""
    if stats is None:
        return True
    for c, (lo, hi) in bounds.items():
        mn, mx = stats.get(c, [None, None])
        if mn is None or mx is None:
            continue
        dec = c in decimal
        if not dec and isinstance(mn, str) and any(
            isinstance(v, (int, float, _dec.Decimal)) for v in (lo, hi)
        ):
            continue
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


def zone_map_buckets(
    manifest: dict, bounds: dict[str, tuple], live, strict: bool = True
) -> list[str]:
    """The buckets of ``live`` whose zone maps may overlap every
    ``{col: (lo, hi)}`` window. A bound that does not compare with a
    bucket's stats raises TypeError when ``strict``, else keeps that
    bucket."""
    stats = manifest.get("bucket_stats", {})
    decimal = decimal_columns(manifest["schema"])

    def keep(b: str) -> bool:
        try:
            return zone_maps_overlap(stats.get(b), bounds, decimal)
        except TypeError:
            if strict:
                raise
            return True

    return [b for b in live if keep(b)]


def bloom_buckets(manifest: dict, col: str, values, live) -> list[str]:
    """The buckets of ``live`` whose Bloom filter on ``col`` might hold
    any of ``values``; a bucket without a filter is kept. Raises
    ValueError for a value type the probe cannot hash."""
    bits = int(manifest.get("bloom_bits", BLOOM_BITS))
    pos_sets = [bloom_probe_positions(v, bits) for v in values]
    blooms = manifest.get("bucket_blooms", {})
    return [
        b
        for b in live
        if (hx := blooms.get(b, {}).get(col)) is None
        or any(bloom_might_contain(hx, ps) for ps in pos_sets)
    ]


def null_count_buckets(manifest: dict, col: str, want_null: bool, live) -> list[str]:
    """The buckets of ``live`` that may hold a row with ``col IS NULL``
    (``want_null``) or ``col IS NOT NULL``: a 0-null bucket cannot match
    the first, an all-null one the second. Counts are physical (deletion
    vectors do not decrement them); a bucket without a count is kept."""
    nulls = manifest.get("bucket_nulls", {})
    rows = manifest.get("row_counts", {})

    def keep(b: str) -> bool:
        n = nulls.get(b, {}).get(col)
        if n is None:
            return True
        return n > 0 if want_null else n < rows.get(b, 1)

    return [b for b in live if keep(b)]


def prune_bucket_ids(manifest: dict, filters) -> list[str]:
    """Live bucket ids that can still hold matching rows — the
    intersection of the key-equality, zone-map, Bloom and null-count
    tiers, in the manifest's sorted order. A filter a tier cannot use
    (undeclared column, unhashable or incomparable literal) is skipped;
    Spark re-applies every filter, so with no usable filter this is the
    full live set."""
    live = sorted(manifest["buckets"], key=int)
    blooms = set(manifest.get("bloom_columns", []))
    stats_cols = set(manifest.get("stats_columns", []))
    for f in filters:
        col = _one_col(f)
        vals = _eq_values(f) if col in blooms else []
        if vals:
            try:
                live = bloom_buckets(manifest, col, vals, live)
            except ValueError:
                pass  # unhashable literal type: skip THIS filter
        if col in stats_cols and isinstance(f, (IsNull, IsNotNull)):
            live = null_count_buckets(manifest, col, isinstance(f, IsNull), live)

    if manifest.get("num_buckets"):
        kb = key_equality_buckets(
            filters,
            manifest["key"],
            int(manifest["num_buckets"]),
            _key_kind(manifest),
        )
        if kb is not None:
            live = [b for b in live if int(b) in kb]

    bounds = {
        c: bnds for c, bnds in collect_bounds(filters).items() if c in stats_cols
    }
    if bounds:
        live = zone_map_buckets(manifest, bounds, live, strict=False)
    return live
