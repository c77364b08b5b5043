"""Hypertable-style multi-resolution rollup (continuous-aggregate
cascade) over an event-time table.

The north-star brief names "hypertable rollup" as a custom operator a
training-data pipeline needs. The Spark-first expression is a cascade of
algebraic partial aggregates: the FINEST level scans the raw events
exactly once; every coarser level re-aggregates the previous level's
partials instead of rescanning raw data. At 100 TB the raw scan happens
once per refresh, the hour tier aggregates an input ~60× smaller, the
day tier ~24× smaller again — and each tier is an ordinary shuffle-on-
(bucket, dims) aggregation Catalyst plans with map-side partial
aggregation.

Only algebraic aggregates cascade (count, sum, min, max); avg is
derived at read time as sum/count. Sums are carried as decimal partials
(`functions.numeric.DECIMAL_T`) through every tier — decimal addition
is associative, so re-aggregating partials is EXACTLY equal to
aggregating the raw rows directly, regardless of shuffle order or
cascade depth (asserted level-by-level in tests, and DuckDB-hashable).
A float-double carry would drift: re-aggregation reorders the
additions.

The streaming analog is one `tumbling_counts` job per tier reading the
previous tier's sink (each a normal windowed agg with a watermark);
batch refresh of the cascade is what this module provides.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.numeric import DECIMAL_T

#: coarse-to-fine ordering sanity check (date_trunc field names)
_LEVEL_ORDER = ("minute", "hour", "day", "week", "month", "quarter", "year")


def rollup_cascade(
    events: DataFrame,
    ts_col: str = "ts",
    dims: Sequence[str] = ("event_type",),
    value_col: str = "value",
    levels: Sequence[str] = ("minute", "hour", "day"),
) -> dict[str, DataFrame]:
    """Build the cascade: ``{level: partial-aggregate DataFrame}``.

    Each level carries storage-form partials: ``bucket`` (truncated
    event time), the ``dims``, ``n_events`` (long), ``sum_value``
    (decimal — keep it decimal until :func:`finalize`), ``min_value``,
    ``max_value``. Level N>0 is computed FROM level N-1, never from the
    raw table.
    """
    order = [_LEVEL_ORDER.index(lv) for lv in levels]
    if sorted(order) != order or len(set(order)) != len(order):
        raise ValueError(f"levels must be strictly fine-to-coarse, got {levels}")
    finest = levels[0]
    cur = _finest_partials(events, ts_col, dims, value_col, finest)
    out = {finest: cur}
    for lvl in levels[1:]:
        cur = _reagg_partials(cur, dims, lvl)
        out[lvl] = cur
    return out


def _finest_partials(
    events: DataFrame,
    ts_col: str,
    dims: Sequence[str],
    value_col: str,
    level: str,
) -> DataFrame:
    """Raw events → storage-form partials at ``level``."""
    return events.groupBy(
        F.date_trunc(level, F.col(ts_col)).alias("bucket"), *dims
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast(DECIMAL_T)).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def _reagg_partials(partials: DataFrame, dims: Sequence[str], level: str) -> DataFrame:
    """Partials at a finer level → partials at ``level`` (algebraic
    combine: sums add, mins/maxes fold — exact, order-independent)."""
    return partials.groupBy(
        F.date_trunc(level, F.col("bucket")).alias("bucket"), *dims
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def _combine_partials(a: DataFrame, b: DataFrame, dims: Sequence[str]) -> DataFrame:
    """Merge two partial sets over the SAME bucket granularity."""
    return (
        a.unionByName(b)
        .groupBy("bucket", *dims)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def finalize(level: DataFrame, dims: Sequence[str] = ("event_type",)) -> DataFrame:
    """Read-time projection of a cascade tier: decimal partials become
    doubles, avg is derived from (sum, count)."""
    return level.select(
        "bucket",
        *dims,
        F.col("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
        (F.col("sum_value").cast("double") / F.col("n_events")).alias("avg_value"),
        "min_value",
        "max_value",
    )


def refresh_cascade(
    spark,
    increment: DataFrame,
    store_base: str,
    ts_col: str = "ts",
    dims: Sequence[str] = ("event_type",),
    value_col: str = "value",
    levels: Sequence[str] = ("minute", "hour", "day"),
) -> list[str]:
    """Incremental continuous-aggregate maintenance: merge an event
    INCREMENT into persisted cascade stores without rescanning history.

    Each tier lives at ``{store_base}/{level}``, partitioned by
    ``p_date`` (the calendar day of the bucket). A refresh:

    1. aggregates the increment to finest-level partials — the ONLY
       scan of raw data;
    2. for the finest tier, combines them with the store's partials for
       the AFFECTED DAYS only (partition-pruned read; algebraic merge is
       exact because sums are decimal);
    3. every coarser tier recomputes its affected days FROM the tier
       below — never from raw events;
    4. publishes each affected ``p_date`` partition with the same
       stage-and-swap commit the upsert sink uses. Untouched days are
       never read, never rewritten.

    Cost is O(increment + affected-days' partials), independent of
    table history — the continuous-aggregate refresh shape (hypertable
    semantics) at 100 TB. Exactness: a store refreshed in any number of
    arbitrary increments equals the one-shot cascade over the union of
    those increments, bit-for-bit (asserted in tests).

    Returns the list of affected p_date strings.
    """
    from ..sinks.upsert import _hadoop_fs

    # a null event time has no bucket, no p_date partition, and would
    # stage into __HIVE_DEFAULT_PARTITION__ that the publish never
    # swaps — drop explicitly rather than lose rows silently
    increment = increment.filter(F.col(ts_col).isNotNull())
    inc = _finest_partials(increment, ts_col, dims, value_col, levels[0])
    days = sorted(
        str(r["d"]) for r in inc.select(F.to_date("bucket").alias("d")).distinct().collect()
    )
    if not days:
        return []
    store = _tier_path(store_base, levels[0])
    fs, tpath = _hadoop_fs(spark, store)
    if fs.exists(tpath):
        existing = (
            spark.read.parquet(store)
            .filter(F.col("p_date").isin(days))
            .drop("p_date")
        )
        inc = _combine_partials(existing, inc, dims)
    _publish_tiers(spark, store_base, levels, dims, days, inc)
    return days


def _tier_path(store_base: str, level: str) -> str:
    return store_base.rstrip("/") + "/" + level


def _publish_tiers(
    spark,
    store_base: str,
    levels: Sequence[str],
    dims: Sequence[str],
    days: list[str],
    finest: DataFrame,
) -> None:
    """Replace the ``days`` partitions of every tier: ``finest`` holds
    the finest tier's new partials for those days, and each coarser
    tier re-aggregates the tier below's published partitions. Each tier
    stages its partitions, swaps each day in with the stage-and-swap
    commit the upsert sink uses, and deletes a day that has no rows any
    more."""
    from ..sinks.upsert import _hadoop_fs, _swap_in

    jvm = spark._jvm
    merged = finest
    for i, lvl in enumerate(levels):
        store = _tier_path(store_base, lvl)
        fs, tpath = _hadoop_fs(spark, store)
        if i:
            merged = _reagg_partials(below, dims, lvl)
        out = merged.withColumn("p_date", F.to_date("bucket").cast("string"))
        staging_str = tpath.toString() + "__staging_" + uuid.uuid4().hex
        out.write.mode("overwrite").partitionBy("p_date").parquet(staging_str)
        staging = jvm.org.apache.hadoop.fs.Path(staging_str)
        if not fs.exists(tpath):
            fs.mkdirs(tpath)
        for d in days:
            src_p = jvm.org.apache.hadoop.fs.Path(staging, f"p_date={d}")
            dst_p = jvm.org.apache.hadoop.fs.Path(tpath, f"p_date={d}")
            if fs.exists(src_p):
                _swap_in(fs, jvm, src_p, dst_p)
            elif fs.exists(dst_p):
                # the day's rows all vanished: replacement = removal
                fs.delete(dst_p, True)
        fs.delete(staging, True)
        has_parts = any(
            st.getPath().getName().startswith("p_date=")
            for st in fs.listStatus(tpath)
        )
        # the next tier re-aggregates THIS tier's published days
        below = (
            spark.read.parquet(store)
            .filter(F.col("p_date").isin(days))
            .drop("p_date")
            if has_parts
            else merged.limit(0)
        )


def refresh_cascade_from_txtable(
    spark,
    table_root: str,
    store_base: str,
    since_version: int | None = None,
    ts_col: str = "ts",
    dims: Sequence[str] = ("event_type",),
    value_col: str = "value",
    levels: Sequence[str] = ("minute", "hour", "day"),
) -> tuple[list[str], int]:
    """Continuous-aggregate maintenance driven by the txtable change
    feed — the TimescaleDB invalidation model on the engine's own CDC.

    The additive :func:`refresh_cascade` cannot absorb updates or
    deletes (min/max partials are not invertible — nothing is
    subtractable from a min). Instead: the CDC between
    ``since_version`` and the table's latest version (preimages
    included, so an update that MOVES an event across days invalidates
    both days) yields the set of affected calendar days; those days'
    finest partials are recomputed from the CURRENT snapshot and
    REPLACE the stored partitions; coarser tiers re-derive from the
    tier below. A day whose rows all vanished has its partition
    deleted. Untouched days are never read or rewritten.

    Cost is O(changed buckets) for the diff + O(affected days' rows)
    for the recompute — pair the table with
    ``compact_txtable(zorder_by=[ts_col])`` so the day-filtered rescan
    is file-pruned by parquet footers. ``since_version=None``
    bootstraps: every day of the current table is (re)built.

    Returns ``(affected p_date strings, consumed version)`` — persist
    the version as the consumer watermark and pass it back as
    ``since_version`` next call (same-version call is a no-op).
    """
    from ..sinks.txlog import _latest_manifest, read_txtable, txtable_changes

    manifest = _latest_manifest(spark, table_root)
    if manifest is None:
        raise FileNotFoundError(f"no committed txtable at {table_root}")
    latest = manifest["version"]
    if since_version is None:
        src = read_txtable(spark, table_root)
        days = sorted(
            str(r["d"])
            for r in src.filter(F.col(ts_col).isNotNull())
            .select(F.to_date(ts_col).alias("d"))
            .distinct()
            .collect()
        )
    else:
        if since_version >= latest:
            return [], latest
        feed = txtable_changes(
            spark, table_root, since_version, latest, include_preimages=True
        )
        days = sorted(
            str(r["d"])
            for r in feed.filter(F.col(ts_col).isNotNull())
            .select(F.to_date(ts_col).alias("d"))
            .distinct()
            .collect()
        )
        src = read_txtable(spark, table_root)
    if not days:
        return [], latest
    rows = src.filter(F.to_date(ts_col).cast("string").isin(days))
    _publish_tiers(
        spark,
        store_base,
        levels,
        dims,
        days,
        _finest_partials(rows, ts_col, dims, value_col, levels[0]),
    )
    return days, latest


def read_rollup(spark, store_base: str, level: str) -> DataFrame:
    """Storage-form partials of one persisted tier (drop the partition
    key; pass through :func:`finalize` for the read-time projection)."""
    return spark.read.parquet(_tier_path(store_base, level)).drop("p_date")


def gapfill_locf(
    bucketed: DataFrame,
    dims: Sequence[str] = ("event_type",),
    bucket_col: str = "bucket",
    value_cols: Sequence[str] = ("bucket_sum",),
    step: str = "1 hour",
) -> DataFrame:
    """Time-bucket gap-fill with last-observation-carried-forward
    (`time_bucket_gapfill` + `locf` in hypertable vocabulary).

    Input: one row per present (dims, bucket). Output: one row per
    (dims, EVERY step between that dim group's min and max bucket); a
    bucket absent from the input gets ``is_gap = true`` and each value
    column replaced by the most recent earlier observation in the same
    dim group (null until the first observation).

    Scale notes: the dense spine is generated DISTRIBUTED — one
    ``sequence()`` per dim group, exploded executor-side, never a driver
    loop — and is O(groups x buckets-in-range) rows of keys only. The
    LOCF fill is a per-group running window (partitionBy dims), so it
    parallelizes across dim groups and never sorts globally; frame is
    rows-unbounded-preceding, the linear streaming-friendly form. The
    ``explode`` stays plain (not ``explode_outer``): its generate-side
    filter wraps the tiny bounds relation, not the raw events.
    """
    dims = list(dims)
    lo, hi = F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
    spine = (
        bucketed.groupBy(*dims)
        .agg(lo, hi)
        .select(
            *dims,
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"INTERVAL {step}"))
            ).alias(bucket_col),
        )
    )
    joined = spine.join(
        bucketed.withColumn("__present", F.lit(1)), [*dims, bucket_col], "left"
    )
    w = (
        W.partitionBy(*dims)
        .orderBy(bucket_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        *dims,
        bucket_col,
        F.col("__present").isNull().alias("is_gap"),
        *[
            F.last(v, ignorenulls=True).over(w).alias(f"{v}_filled")
            for v in value_cols
        ],
    )


def gapfill_interpolate(
    bucketed: DataFrame,
    dims: Sequence[str] = ("event_type",),
    bucket_col: str = "bucket",
    value_cols: Sequence[str] = ("bucket_sum",),
    step: str = "1 hour",
) -> DataFrame:
    """Time-bucket gap-fill with LINEAR INTERPOLATION — hypertable
    ``interpolate()`` beside :func:`gapfill_locf`'s ``locf()``: an
    absent bucket gets the straight line between its nearest earlier
    and later observations, weighted by time position. Boundary
    spine rows are always observations (the spine spans each group's
    observed min..max), so the interpolant is defined on every gap.

    Determinism: the fraction is a ratio of exact integer epoch
    seconds; the blend is straight-line double arithmetic rounded to
    6 decimals — identical on both engines (no accumulation anywhere).

    Scale shape: same as LOCF — distributed spine, then TWO per-group
    linear windows (last-non-null preceding, first-non-null following)
    instead of one; still no global sort, still one shuffle to dim
    grain."""
    dims = list(dims)
    lo, hi = F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
    spine = (
        bucketed.groupBy(*dims)
        .agg(lo, hi)
        .select(
            *dims,
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"INTERVAL {step}"))
            ).alias(bucket_col),
        )
    )
    joined = spine.join(
        bucketed.withColumn("__present", F.lit(1)), [*dims, bucket_col], "left"
    )
    back = (
        W.partitionBy(*dims)
        .orderBy(bucket_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy(*dims)
        .orderBy(bucket_col)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    t = F.unix_timestamp(bucket_col).cast("double")
    obs_t = F.when(F.col("__present").isNotNull(), t)
    t_prev = F.last(obs_t, ignorenulls=True).over(back)
    t_next = F.first(obs_t, ignorenulls=True).over(fwd)
    frac = F.when(t_next == t_prev, F.lit(0.0)).otherwise(
        (t - t_prev) / (t_next - t_prev)
    )
    out_cols = []
    for v in value_cols:
        vd = F.col(v).cast("double")
        v_prev = F.last(
            F.when(F.col("__present").isNotNull(), vd), ignorenulls=True
        ).over(back)
        v_next = F.first(
            F.when(F.col("__present").isNotNull(), vd), ignorenulls=True
        ).over(fwd)
        out_cols.append(
            F.round(v_prev + (v_next - v_prev) * frac, 6).alias(
                f"{v}_interp"
            )
        )
    return joined.select(
        *dims,
        bucket_col,
        F.col("__present").isNull().alias("is_gap"),
        *out_cols,
    )
