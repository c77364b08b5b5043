"""Structured Streaming jobs over event streams (SURVEY.md §2.2).

The reference's daily cron is an incremental micro-batch (SURVEY §1.1);
the engine's streaming surface is real Structured Streaming:
``readStream → event-time transforms → writeStream``. Every
transformation here is the SAME function used by the batch oracle
queries (plans/timeseries.py) — window()/session_window() semantics are
identical in both modes, so batch results validate the streaming logic
(tests/test_streaming.py runs these with Trigger.AvailableNow against a
file source and compares with the batch run).

Watermarks bound state: at 100 TB/day the only viable stateful operators
are those whose state expires — every job below declares one.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_event_time(stream: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event-time column (int64 nanos, TIMESTAMP_NTZ, or
    timestamp) — mirror of sources.tables._load_events for streaming
    inputs. The session is pinned UTC so the NTZ→TZ cast is
    deterministic."""
    dtype = dict(stream.dtypes).get(ts_col)
    if dtype == "bigint":
        stream = stream.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    elif dtype == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def tumbling_counts(
    stream: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling per-type counts with late-data drop beyond the watermark.
    Streaming form of q34 (plans/timeseries.py)."""
    return (
        with_event_time(stream)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
    )


def chained_window_rollup(
    stream: DataFrame,
    fine: str = "15 minutes",
    coarse: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """TWO stateful event-time aggregations CHAINED in one streaming
    query (Spark 3.4+ multiple-stateful-operators support): fine
    tumbling per-type sums, re-windowed through ``window_time()`` into
    a coarse rollup carrying the count of contributing fine buckets
    and the coarse total — the streaming twin of the q65 rollup
    cascade, previously only expressible as two separate queries
    bridged through storage.

    The second ``groupBy(window(window_time(window), coarse))`` keys
    on the FINE WINDOW's event-time representative, so the coarse
    state finalizes off the same watermark; both operators' state
    expires together. Output in append mode trails the watermark —
    stream ≡ batch asserted with AvailableNow in tests.

    Scale shape: operator 1 shuffles (fine-window, type) partial sums;
    operator 2 re-shuffles only the FINE AGGREGATE (buckets × types —
    never the events) to coarse grain. Exactly the cascade's batch
    contract, held per micro-batch."""
    fine_agg = (
        with_event_time(stream)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", fine), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_fine"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("fine_sum"),
        )
    )
    return (
        fine_agg.groupBy(
            F.window(F.window_time("window"), coarse).alias("cw"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n_fine").cast("bigint").alias("n_events"),
            F.sum("fine_sum").alias("total_value"),
        )
        .select(
            F.col("cw.start").alias("window_start"),
            "event_type",
            "n_buckets",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    )


def dedup_then_window(
    stream: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermark DEDUP chained into a windowed aggregation in ONE
    streaming query — the second multiple-stateful-operators shape
    beside :func:`chained_window_rollup`: replayed deliveries collapse
    in `dropDuplicatesWithinWatermark` state, and only first
    occurrences count toward the hourly per-type totals. The batch
    twin replaces the watermark dedup with exact `dropDuplicates` —
    identical whenever replays arrive inside the horizon (the
    at-least-once delivery contract this operator exists for).

    Scale shape: dedup state is keyed by (user, type, minute bucket)
    and expires with the watermark; the window aggregate consumes the
    deduped stream under the same watermark. Append-mode output."""
    base = with_event_time(stream).withWatermark("ts", watermark)
    keyed = base.withColumn(
        "__bucket", F.date_trunc("minute", "ts")
    )
    deduped = (
        keyed.dropDuplicatesWithinWatermark(
            ["user_id", "event_type", "__bucket"]
        )
        if keyed.isStreaming
        else keyed.dropDuplicates(["user_id", "event_type", "__bucket"])
    )
    return (
        deduped.groupBy(F.window("ts", window_size), "event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_unique",
        )
    )


def sliding_user_activity(
    stream: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window distinct-user approximation (exact count per window;
    streaming form of q35)."""
    return (
        with_event_time(stream)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide))
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select(F.col("window.start").alias("window_start"), "approx_users")
    )


def sessionize(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows with inactivity gap (streaming form of q36):
    state merges as events arrive, emits when the watermark passes
    session end."""
    return (
        with_event_time(stream)
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def stateful_user_counts(
    stream: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-user event counter held in explicit group state across
    micro-batches, emitting the updated total whenever the user appears
    in a batch.

    This is the engine's escape hatch for stateful semantics the
    built-in operators can't express (custom sessionization, pattern
    FSMs, per-key model state). State is a typed tuple the runtime
    checkpoints; Arrow batches per group keep it vectorized. The
    watermark bounds how long idle state may linger — with a real
    timeout policy (``GroupStateTimeout.EventTimeTimeout``) expired keys
    get a final callback to flush; the counter here keeps NoTimeout
    because its state is one long per active user.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return (
        with_event_time(stream)
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_upsert_writer(
    stream: DataFrame,
    target_path: str,
    key: str = "id",
    checkpoint: str | None = None,
    use_txlog: bool = True,
    txn_app_id: str | None = None,
):
    """foreachBatch bridge into the keyed MERGE sink (sinks.txlog): every
    micro-batch becomes one ``txlog_upsert`` snapshot commit on the
    txtable at ``target_path``, so downstream readers observe the
    stream as a sequence of atomic versions even on object stores.
    foreachBatch may re-deliver a batch after failure; a replayed
    micro-batch commits an identical snapshot (same keys supersede),
    giving end-to-end effectively-once semantics (the streaming form of
    the reference's chunked `on_conflict` sink, data_pipeline.py:
    501-542). Read the target with ``read_txtable`` or
    ``format("txtable")``.

    Returns the configured DataStreamWriter; caller picks the trigger
    (`.trigger(availableNow=True)` for the reference's cron shape,
    processingTime for continuous ingest).

    ``use_txlog`` is accepted for existing callers and must be True:
    the rename-publish parquet sink it once selected was removed.

    ``txn_app_id`` additionally records each micro-batch's
    ``batch_id`` in the commit log (Delta's txnAppId/txnVersion
    pattern): a re-delivered batch is then rejected by the LOG, not
    merely neutralized by keyed idempotency — true exactly-once even
    for payloads whose keys don't dedupe. Use a stable id per logical
    stream (e.g. the checkpoint path).
    """
    if not use_txlog:
        raise ValueError(
            "use_txlog=False selected the parquet upsert sink, which was "
            "removed; the target is now a txtable (use_txlog=True)"
        )
    write_batch = make_upsert_batch_fn(target_path, key=key, txn_app_id=txn_app_id)
    writer = stream.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def make_upsert_batch_fn(
    target_path: str,
    key: str = "id",
    txn_app_id: str | None = None,
):
    """The foreachBatch callback behind ``stream_upsert_writer`` and
    ``stream_ingest_landing``: one ``txlog_upsert`` commit per
    non-empty micro-batch, exposed for direct testing.

    Empty micro-batches short-circuit BEFORE touching the sink: a quiet
    processingTime stream triggers on a cadence regardless of data, and
    without the guard each empty trigger would commit an identical
    txlog snapshot — growing ``_commits/`` (and data/ dirs of empty
    writes) unboundedly between vacuums for zero information.
    """
    from ..sinks.txlog import txlog_upsert

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        txlog_upsert(
            batch_df.sparkSession,
            batch_df,
            target_path,
            key=key,
            txn_app_id=txn_app_id,
            txn_version=batch_id if txn_app_id is not None else None,
        )

    return write_batch


def stream_ingest_landing(
    spark,
    landing_dir: str,
    target_path: str,
    quarantine_path: str,
    checkpoint: str,
    key: str = "id",
    schema=None,
):
    """O1 as Structured Streaming: the reference's daily cron re-lists
    the bucket and LIMIT-1-probes the ledger once per file
    (`data_pipeline.py:138-142`); ``Trigger.AvailableNow`` over a
    file-source stream is that loop engine-grade — the checkpointed
    file log makes each landing file processed exactly once ACROSS
    runs (no per-file ledger probe anywhere), and every micro-batch
    flows through clean → quarantine-split → the same keyed txtable
    MERGE the batch pipeline uses (``make_upsert_batch_fn``, so a batch
    with no clean rows commits nothing), so a replayed batch is a
    no-op. ``target_path`` is a txtable: read it with ``read_txtable``.
    SURVEY §1.1 names this the Spark analog of the reference's
    incremental cron shape; `plans/reference_etl.run_ingest` remains
    the ledger-reporting batch form.

    Returns the started StreamingQuery (drain-and-stop under
    AvailableNow; re-invoke on the next cron tick).
    """
    from ..functions.cleaning import clean_transactions
    from ..sinks.upsert import write_quarantine
    from ..sources.csv_ingest import (
        CORRUPT_COL,
        DEALER_TRANSACTIONS_SCHEMA,
        landing_target_rows,
    )

    schema = schema or DEALER_TRANSACTIONS_SCHEMA
    raw = (
        spark.readStream.options(
            header=True,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=CORRUPT_COL,
        )
        .schema(schema)
        .csv(landing_dir)
    )
    upsert_batch = make_upsert_batch_fn(target_path, key=key)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()  # one pass feeds both splits
        try:
            good = batch_df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
            bad = batch_df.filter(F.col(CORRUPT_COL).isNotNull()).select(
                F.col(CORRUPT_COL).alias("raw_record")
            )
            upsert_batch(
                landing_target_rows(clean_transactions(good)), batch_id
            )
            if not bad.isEmpty():
                write_quarantine(bad, quarantine_path, "schema")
        finally:
            batch_df.unpersist()

    return (
        raw.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful replay-dedup: drop re-deliveries of the same event id
    within the watermark horizon (state auto-expires — the streaming form
    of q37's bucketed dedup; the reference's ledger guard generalized to
    row granularity)."""
    return (
        with_event_time(stream)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys or ["event_id"])
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each right-side event with
    the left-side events of the same key that PRECEDE it by at most
    ``within`` (view→click attribution shape).

    Mode-agnostic: the same plan runs as a batch range join (AQE picks
    the strategy) or as a Structured Streaming stream-stream join. In
    streaming, BOTH sides carry a watermark and the two-sided time-range
    condition lets Spark derive per-side state-retention bounds — each
    side buffers only ``watermark + within`` of events per key, so state
    is bounded at 100 TB/day instead of growing with the stream. Matched
    rows emit immediately; the watermark expires state.

    ``how="leftOuter"`` additionally emits every unmatched left event
    (view with no click) with null right columns — in streaming these
    rows can only surface once the watermark passes the event's match
    window (Spark must prove no future right row can match), so outer
    results trail the watermark by ``within``; the inner results are
    identical to ``how="inner"``.
    """
    if how not in ("inner", "leftOuter", "left_outer"):
        raise ValueError(f"unsupported interval-join type {how!r}")
    lhs = (
        with_event_time(left)
        .withWatermark("ts", watermark)
        .select(
            F.col(key).alias(key),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_event_id"),
        )
    )
    rhs = (
        with_event_time(right)
        .withWatermark("ts", watermark)
        .select(
            F.col(key).alias(f"r_{key}"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_event_id"),
        )
    )
    cond = (
        (lhs[key] == rhs[f"r_{key}"])
        & (rhs["r_ts"] >= lhs["l_ts"])
        & (rhs["r_ts"] <= lhs["l_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return lhs.join(rhs, cond, how).select(
        key,
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
        (
            F.unix_micros(F.col("r_ts").cast("timestamp"))
            - F.unix_micros(F.col("l_ts").cast("timestamp"))
        ).alias("lag_micros"),
    )


class _ActivityProcessor:
    """StatefulProcessor for :func:`user_activity_monitor` (defined
    module-level so it pickles to executors)."""

    def __init__(self, gap_ms: int):
        self.gap_ms = gap_ms

    def init(self, handle) -> None:
        self.handle = handle
        self.state = handle.getValueState(
            "agg", "n bigint, total double, last_ts bigint"
        )

    def _emit(self, key, n, total, final):
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "is_final": [final],
            }
        )

    def handleInputRows(self, key, rows, timerValues):
        n, total, last_ts = (
            self.state.get() if self.state.exists() else (0, 0.0, 0)
        )
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last_ts = max(last_ts, int(pdf["ts_ms"].max()))
        self.state.update((n, total, last_ts))
        # (re)arm the idle timer: fires when the event-time watermark
        # passes last activity + gap
        for t in self.handle.listTimers():
            self.handle.deleteTimer(t)
        self.handle.registerTimer(last_ts + self.gap_ms)
        yield self._emit(key, n, total, False)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        if self.state.exists():
            n, total, _ = self.state.get()
            self.state.clear()
            yield self._emit(key, n, total, True)

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def close(self) -> None:
        pass


def user_activity_monitor(
    stream: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "1 minute",
) -> DataFrame:
    """Per-user activity tracker on ``transformWithStateInPandas``
    (Spark 4.1's arbitrary-stateful API — typed composable state +
    event-time timers, the successor to ``applyInPandasWithState``):

    - running ``(n_events, total_value)`` per user in a ValueState,
      emitted with ``is_final=false`` whenever the user appears;
    - an event-time TIMER re-armed on every batch to last-activity +
      ``gap``: when the watermark passes it (the user went idle), the
      accumulated summary flushes once with ``is_final=true`` and the
      state CLEARS — the pattern that bounds state for abandoned keys,
      which NoTimeout ``applyInPandasWithState`` (above) cannot express.

    State per user is one 3-field tuple + one timer; output is Arrow
    batches. Restart-safe: state and timers live in the checkpoint.

    DECLARED SEAM: Spark's transformWithState runtime speaks protobuf
    to its Python workers; an environment without ``google.protobuf``
    (this container) crashes the worker at init, so the dependency is
    checked HERE with a clear error instead. The processor's
    accumulate/flush/timer logic is unit-tested directly
    (tests/test_streaming.py) and the wiring below follows the public
    API exactly; ``stateful_user_counts`` (above) is the
    no-extra-dependency alternative.
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package "
            "(Spark's state-server protocol); install protobuf or use "
            "stateful_user_counts (applyInPandasWithState) instead"
        ) from None
    from pyspark.sql.streaming import StatefulProcessor

    gap_ms = _duration_ms(gap)

    class Processor(_ActivityProcessor, StatefulProcessor):
        def __init__(self):
            _ActivityProcessor.__init__(self, gap_ms)

    ev = with_event_time(stream).withWatermark("ts", watermark)
    return (
        ev.select(
            "user_id", "value", F.unix_millis("ts").alias("ts_ms"), "ts"
        )
        .groupBy("user_id")
        .transformWithStateInPandas(
            Processor(),
            outputStructType=(
                "user_id long, n_events bigint, total_value double, "
                "is_final boolean"
            ),
            outputMode="append",
            timeMode="eventTime",
        )
    )


def _duration_ms(text: str) -> int:
    """'10 minutes' → 600000. Supports the interval units the jobs in
    this module use (seconds/minutes/hours/days)."""
    qty, unit = text.split()
    mult = {
        "second": 1000,
        "seconds": 1000,
        "minute": 60_000,
        "minutes": 60_000,
        "hour": 3_600_000,
        "hours": 3_600_000,
        "day": 86_400_000,
        "days": 86_400_000,
    }[unit]
    return int(qty) * mult


def make_sketch_batch_fn(
    root_path: str,
    group_cols: list[str],
    value_col: str,
    kind: str = "distinct",
    lg_k: int = 12,
    k: int = 64,
    txn_app_id: str = "sketch-maintenance",
):
    """foreachBatch callback behind :func:`stream_distinct_sketches`,
    exposed for direct testing and generalized over the three mergeable
    summaries: ``kind="distinct"`` (HLL — union is order-independent,
    maintained table bit-equals one-shot sketching), ``"heavy_hitters"``
    (MG — stored ≤ true ≤ stored+err carried through every merge) and
    ``"quantile"`` (MRL — rank-error bound preserved under merging)."""
    from ..operators import sketches
    from ..sinks.txlog import read_txtable, txlog_upsert
    from ..sinks.upsert import composite_key

    state_cols = {
        "distinct": ["sketch"],
        "heavy_hitters": ["items", "n", "err"],
        "quantile": ["levels", "n"],
    }
    if kind not in state_cols:
        raise ValueError(f"unknown sketch kind {kind!r}")

    def sketch_batch(df: DataFrame) -> DataFrame:
        if kind == "distinct":
            return sketches.distinct_sketch(df, group_cols, value_col, lg_k=lg_k)
        if kind == "heavy_hitters":
            return sketches.heavy_hitters_sketch(df, group_cols, value_col, k=k)
        return sketches.quantile_sketch(df, group_cols, value_col, k=k)

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        both = old.unionByName(new)
        if kind == "distinct":
            return sketches.sketch_merge_batches(old, new, group_cols)
        if kind == "heavy_hitters":
            return sketches.heavy_hitters_rollup(both, group_cols, k=k)
        return sketches.quantile_rollup(both, group_cols, k=k)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        new = sketch_batch(batch_df)
        try:
            old = read_txtable(spark, root_path).select(
                *group_cols, *state_cols[kind]
            )
            merged = merge(old, new)
        except FileNotFoundError:
            merged = new
        # null-distinct: (NULL, 'x') and ('x', NULL) are two groups
        keyed = merged.withColumn("__gkey", composite_key(group_cols))
        txlog_upsert(
            spark,
            keyed,
            root_path,
            key="__gkey",
            txn_app_id=txn_app_id,
            txn_version=batch_id,
        )

    return write_batch


def stream_distinct_sketches(
    stream: DataFrame,
    root_path: str,
    group_cols: list[str],
    value_col: str,
    checkpoint: str | None = None,
    lg_k: int = 12,
    txn_app_id: str = "sketch-maintenance",
):
    """Continuously-maintained COUNT(DISTINCT) sketch table: each
    micro-batch sketches its own rows (map-side combinable HLL agg),
    unions them into the at-rest per-group sketches, and commits the
    result to a transactional txtable — stream + sketch + log composed:

    - cost per trigger is O(groups touched + table groups), never
      O(history): the raw stream is never retained, only the KB-sized
      register state per group;
    - HLL union is register-max — ORDER-INDEPENDENT — so the maintained
      table equals the sketch of the whole history regardless of how
      the stream was micro-batched (asserted in tests);
    - the txn watermark (txnAppId/batchId) makes a replayed micro-batch
      a log-level no-op, so the union is applied exactly once — the
      property that matters here, because re-unioning a batch is
      harmless for distinct counts but would NOT be for additive stats.

    Readers get any-grain rollups from the maintained table via
    ``sketches.sketch_rollup`` + ``estimate`` without touching the
    stream or its history. Caller picks the trigger.
    """
    write_batch = make_sketch_batch_fn(
        root_path, group_cols, value_col, kind="distinct", lg_k=lg_k,
        txn_app_id=txn_app_id,
    )
    writer = stream.writeStream.foreachBatch(write_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def make_drift_batch_fn(
    root_path: str,
    ref: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
    txn_app_id: str = "drift-monitor",
):
    """foreachBatch callback behind :func:`stream_drift_monitor`,
    exposed for direct testing (same convention as
    ``make_sketch_batch_fn``): scores ONE micro-batch's PSI against the
    frozen reference and appends per-group rows keyed
    (batch_id, group) to a txtable under the txn watermark, so a
    replayed batch is a log-level no-op."""
    from pyspark.sql import functions as SF

    from ..operators.drift import psi
    from ..sinks.txlog import txlog_upsert

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = (
            psi(ref, batch_df, group_col, value_col, lo, hi, bins)
            .select(
                SF.lit(int(batch_id)).cast("long").alias("batch_id"),
                "grp",
                "psi",
                "n_ref",
                "n_cur",
            )
            .withColumn(
                "__dkey",
                SF.concat_ws(
                    "\x1f", SF.col("batch_id").cast("string"), SF.col("grp")
                ),
            )
        )
        txlog_upsert(
            batch_df.sparkSession,
            out,
            root_path,
            key="__dkey",
            txn_app_id=txn_app_id,
            txn_version=batch_id,
        )

    return write_batch


def stream_drift_monitor(
    stream: DataFrame,
    ref: DataFrame,
    root_path: str,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
    checkpoint: str | None = None,
    txn_app_id: str = "drift-monitor",
):
    """Continuous data-quality gate: every micro-batch's value
    distribution is PSI-scored against a FROZEN reference snapshot
    (operators/drift.py) and the per-group scores land in a
    transactional table — the monitoring loop an ingest pipeline
    watches before trusting new data.

    Per-trigger cost is O(batch + groups × bins): the reference
    collapses to its histogram inside each psi() call's combinable
    aggregation (a caller can pre-aggregate/persist ``ref`` for long
    streams), the batch never shuffles raw rows, and the appended
    verdict rows are (batch × groups)-sized. Exactly-once via the
    commit log's txn watermark, same as every foreachBatch sink here.
    Caller picks the trigger."""
    write_batch = make_drift_batch_fn(
        root_path, ref, group_col, value_col, lo, hi, bins,
        txn_app_id=txn_app_id,
    )
    writer = stream.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def make_join_view_batch_fn(
    view_root: str,
    a_current,
    b_current,
    on: str,
    a_id: str,
    b_id: str,
):
    """foreachBatch callback behind :func:`stream_join_view_maintenance`
    (exposed for direct testing): the micro-batch IS a change-feed
    slice — rows from ``format("txtable")`` with ``readChangeFeed`` +
    ``includePreimages`` — so its distinct ``on`` values are exactly
    the dirty join keys (preimages dirty the OLD key of a key-moving
    update), and the view refreshes for that slice from the CURRENT
    snapshots (``a_current()``/``b_current()`` callables, evaluated per
    trigger). The refresh is a deterministic function of (snapshots,
    dirty keys), so a replayed batch re-converges to the same view —
    idempotent at the semantic level even though it may commit
    additional no-op-shaped versions.

    Commit races: with maintenance streams on BOTH sides of the view
    (the documented two-sided deployment), two triggers can race a
    view-table commit; the loser's ``ConcurrentCommitError`` is caught
    here and the refresh RE-RUNS against the winner's snapshot (fresh
    dirty-key scoped recompute — exactly the re-read-and-re-merge shape
    ``test_txlog_racing_writers_converge`` proves safe). Without the
    retry a benign race killed the streaming query (round-6 advisor
    finding)."""
    from pyspark.sql import functions as SF

    from ..sinks.join_view import refresh_join_view
    from ..sinks.txlog import ConcurrentCommitError

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dirty = batch_df.select(SF.col(on)).dropDuplicates()
        attempts = 5
        for attempt in range(attempts):
            try:
                refresh_join_view(
                    batch_df.sparkSession,
                    view_root,
                    a_current(),
                    b_current(),
                    dirty,
                    on=on,
                    a_id=a_id,
                    b_id=b_id,
                )
                return
            except ConcurrentCommitError:
                if attempt == attempts - 1:
                    raise
                # lost a view-commit race to the other side's trigger:
                # re-run the key-scoped refresh on the winner's snapshot

    return write_batch


def stream_join_view_maintenance(
    change_stream: DataFrame,
    view_root: str,
    a_current,
    b_current,
    on: str,
    a_id: str,
    b_id: str,
    checkpoint: str | None = None,
):
    """Continuously-maintained JOIN view (stream ∘ join_view ∘ txlog):
    subscribe to one side's txtable change feed (MUST be read with
    ``includePreimages`` — a postimage-only feed misses the old key of
    key-moving updates, `sinks/join_view.py` module docstring) and
    refresh the materialized join per trigger via dirty-key partial
    recompute. Per-trigger cost is O(dirty share + touched view
    buckets); the view is never rebuilt. For churn on BOTH sides run
    one maintenance stream per side against the same view root — the
    refresh is key-scoped, so interleaved refreshes converge. Caller
    picks the trigger."""
    write_batch = make_join_view_batch_fn(
        view_root, a_current, b_current, on, a_id, b_id
    )
    writer = change_stream.writeStream.foreachBatch(write_batch).outputMode(
        "append"
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def make_apply_changes_batch_fn(
    target_path: str,
    key: str | None = None,
    sequence_col: str = "sequence",
    op_col: str = "op",
    delete_op: str = "delete",
    num_buckets: int | None = None,
    txn_app_id: str | None = "stream-apply-changes",
):
    """foreachBatch callback behind :func:`stream_apply_changes`
    (exposed for direct testing): each micro-batch of CDC rows applies
    through ``sinks.cdc_apply.apply_changes`` — net-effect reduction
    (latest sequence wins, delete-wins tie-break) then the bucket-
    pruned verbs. The txn watermark makes a replayed micro-batch a
    log-level no-op, so checkpoint recovery cannot double-apply.

    Cross-batch ordering note: WITHIN a batch, sequence decides; a
    LATER batch always wins over an earlier one for the same key (the
    verbs overwrite), so the feed source must deliver a key's changes
    in batch order that does not regress sequence — true of any
    offset-ordered source (Kafka partition, change feed). Out-of-order
    ACROSS batches would need sequence persistence, documented out of
    scope (Delta's APPLY CHANGES has the same contract).
    """
    from ..sinks.cdc_apply import apply_changes

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_changes(
            batch_df.sparkSession,
            batch_df,
            target_path,
            key=key,
            sequence_col=sequence_col,
            op_col=op_col,
            delete_op=delete_op,
            num_buckets=num_buckets,
            txn_app_id=txn_app_id,
            txn_version=batch_id if txn_app_id is not None else None,
        )

    return write_batch


def stream_apply_changes(
    cdc_stream: DataFrame,
    target_path: str,
    key: str | None = None,
    sequence_col: str = "sequence",
    op_col: str = "op",
    delete_op: str = "delete",
    num_buckets: int | None = None,
    checkpoint: str | None = None,
    txn_app_id: str | None = "stream-apply-changes",
):
    """Continuously apply a CDC stream (Debezium-shaped rows: data +
    op + sequence) to a txtable — streaming APPLY CHANGES INTO: every
    trigger reduces its slice to per-key net effect and applies via
    the bucket-pruned DML verbs, exactly-once under replay through the
    manifest txn watermark. Caller picks the trigger."""
    write_batch = make_apply_changes_batch_fn(
        target_path, key, sequence_col, op_col, delete_op, num_buckets,
        txn_app_id,
    )
    writer = cdc_stream.writeStream.foreachBatch(write_batch).outputMode(
        "append"
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def make_scd2_batch_fn(
    target_path: str,
    key: str,
    sequence_col: str = "sequence",
    op_col: str = "op",
    delete_op: str = "delete",
    num_buckets: int | None = None,
    txn_app_id: str | None = "stream-scd2",
    suppress_unchanged: bool = False,
):
    """foreachBatch callback behind :func:`stream_scd2_maintenance`
    (exposed for direct testing): each micro-batch of CDC rows applies
    through ``sinks.cdc_apply.scd2_apply_changes`` — every change opens
    a Type-2 version row and closes its predecessor, deletes close the
    open row, dirty-key reads prune via the manifest Bloom index. The
    txn watermark makes a replayed micro-batch a log-level no-op.

    Same cross-batch ordering contract as the net-effect apply: a
    key's sequences must not regress across batches (stale changes are
    DROPPED, not reordered) — true of any offset-ordered source."""
    from ..sinks.cdc_apply import scd2_apply_changes

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scd2_apply_changes(
            batch_df.sparkSession,
            batch_df,
            target_path,
            key=key,
            sequence_col=sequence_col,
            op_col=op_col,
            delete_op=delete_op,
            num_buckets=num_buckets,
            txn_app_id=txn_app_id,
            txn_version=batch_id if txn_app_id is not None else None,
            suppress_unchanged=suppress_unchanged,
        )

    return write_batch


def stream_scd2_maintenance(
    cdc_stream: DataFrame,
    target_path: str,
    key: str,
    sequence_col: str = "sequence",
    op_col: str = "op",
    delete_op: str = "delete",
    num_buckets: int | None = None,
    checkpoint: str | None = None,
    txn_app_id: str | None = "stream-scd2",
    suppress_unchanged: bool = False,
):
    """Continuously maintain an SCD Type-2 history dimension from a
    CDC stream (Delta Live Tables' ``APPLY CHANGES ... STORED AS SCD
    TYPE 2`` as a streaming job): every trigger chains its changes
    onto each dirty key's open row — one atomic history commit per
    trigger, exactly-once under replay through the manifest txn
    watermark. Caller picks the trigger."""
    write_batch = make_scd2_batch_fn(
        target_path, key, sequence_col, op_col, delete_op, num_buckets,
        txn_app_id, suppress_unchanged,
    )
    writer = cdc_stream.writeStream.foreachBatch(write_batch).outputMode(
        "append"
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def make_enrich_batch_fn(
    out_root: str,
    dim_fn,
    on: str,
    key: str,
    how: str = "left",
    txn_app_id: str = "stream-enrich",
):
    """foreachBatch callback behind :func:`stream_enrich_with_dim`,
    exposed for direct testing: joins ONE micro-batch against a FRESH
    dimension snapshot (``dim_fn(spark)`` re-evaluated per trigger) and
    upserts the enriched rows keyed ``key`` into a txtable under the
    txn watermark — replayed batches are log-level no-ops."""
    from pyspark.sql import functions as SF

    from ..sinks.txlog import txlog_upsert

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dim = dim_fn(batch_df.sparkSession)
        enriched = batch_df.join(SF.broadcast(dim), on, how)
        txlog_upsert(
            batch_df.sparkSession,
            enriched,
            out_root,
            key=key,
            txn_app_id=txn_app_id,
            txn_version=batch_id,
        )

    return write_batch


def stream_enrich_with_dim(
    stream: DataFrame,
    out_root: str,
    dim_fn,
    on: str,
    key: str,
    how: str = "left",
    checkpoint: str | None = None,
    txn_app_id: str = "stream-enrich",
):
    """Stream-static enrichment join against an UPDATEABLE dimension —
    the lookup-table pattern (events x reference data) done so that
    dimension updates are visible mid-stream.

    The naive form ``stream.join(spark.read.parquet(dim))`` pins the
    static side's FILE LISTING at plan time: rows appended or
    overwritten in the dimension after the query starts are invisible
    (or break the scan) for the stream's whole lifetime. Here the
    dimension is re-resolved EVERY trigger: ``dim_fn(spark)`` returns a
    fresh DataFrame per micro-batch — pass a lambda over
    ``read_txtable`` and each trigger joins the dimension's CURRENT
    committed snapshot, with snapshot isolation from the commit log
    (a concurrent dimension MERGE either lands before a trigger's read
    or after it, never half-way).

    Scale shape: the dimension broadcasts per trigger (lookup tables
    are broadcast-sized by definition — for a fact-sized "dimension"
    use the join-view maintenance job instead); the micro-batch never
    shuffles; output lands exactly-once under the txn watermark.
    Caller picks the trigger."""
    write_batch = make_enrich_batch_fn(
        out_root, dim_fn, on, key, how=how, txn_app_id=txn_app_id
    )
    writer = stream.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def stream_text_corpus_landing(
    spark,
    landing_dir: str,
    table_root: str,
    checkpoint: str,
    glob: str = "*.txt",
    grain: str = "file",
    num_buckets: int = 16,
    txn_app_id: str | None = None,
):
    """Continuous raw-text corpus ingest: the landing-directory loop
    (stream_ingest_landing's role) for the plain-.txt corpora the
    LLM-ops side curates. The streaming ``text`` file source lists the
    directory exactly once per file across runs (checkpointed file
    log); each micro-batch annotates the document grain
    (sources/text_corpus.to_documents — content-addressed xxhash64
    doc_id), collapses byte-identical payloads WITHIN the batch
    deterministically (max source_file wins — doc_id determines text,
    so only provenance needs the tie-break), and lands through the
    transactional upsert: one atomic txtable snapshot per micro-batch,
    content-duplicate payloads across batches superseded by key, and a
    re-delivered batch rejected by the log's txn watermark.

    Ingest-time exact dedup is therefore FREE here — the content hash
    IS the key — so the at-rest corpus never stores two copies of one
    payload no matter how many landing files carry it.

    Returns the started StreamingQuery (AvailableNow: drain and stop,
    the cron shape)."""
    if grain not in ("file", "line"):
        raise ValueError(f"grain must be 'file' or 'line', got {grain!r}")
    from ..sinks.txlog import txlog_upsert
    from ..sources.text_corpus import to_documents

    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true" if grain == "file" else "false")
        .option("pathGlobFilter", glob)
        .load(landing_dir)
    )
    corpus = raw.select(
        F.input_file_name().alias("source_file"),
        F.col("value").alias("text"),
    )
    app_id = txn_app_id or checkpoint

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = (
            to_documents(batch_df)
            .groupBy("doc_id", "text", "n_chars")
            .agg(F.max("source_file").alias("source_file"))
            .select("doc_id", "source_file", "text", "n_chars")
        )
        if docs.isEmpty():
            return
        txlog_upsert(
            batch_df.sparkSession,
            docs,
            table_root,
            key="doc_id",
            num_buckets=num_buckets,
            txn_app_id=app_id,
            txn_version=batch_id,
        )

    return (
        corpus.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def make_text_index_batch_fn(index_path: str):
    """foreachBatch callback behind :func:`stream_text_index_maintenance`
    (exposed for direct testing): the micro-batch IS a preimage-complete
    change-feed slice, applied through
    ``text_index.apply_text_index_changes`` — posting deletes/MERGEs
    are idempotent by key and the stats delta rides the txn watermark
    (txn_version = batch id), so redelivery after a failure converges."""
    from ..operators.text_index import apply_text_index_changes

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_text_index_changes(
            batch_df.sparkSession, index_path, batch_df,
            txn_version=batch_id,
        )

    return write_batch


def stream_text_index_maintenance(
    change_stream: DataFrame,
    index_path: str,
    checkpoint: str | None = None,
):
    """Continuously-maintained inverted text index (stream ∘
    apply_text_index_changes ∘ postings txtable): subscribe to the
    documents table's change feed (MUST be read with
    ``includePreimages`` — pre-update/delete text is what names the
    stale term keys without an index scan) and propagate every commit
    per trigger: O(changed docs × their terms + touched buckets),
    never an index rebuild or scan. The lexical member of the
    maintained-structure family. Caller picks the trigger."""
    write_batch = make_text_index_batch_fn(index_path)
    writer = change_stream.writeStream.foreachBatch(write_batch).outputMode(
        "append"
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def make_vector_index_batch_fn(
    index_path: str,
    kind: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch callback behind :func:`stream_vector_index_maintenance`
    (exposed for direct testing): the micro-batch IS a preimage-complete
    change-feed slice, applied to the persisted vector index through
    ``similarity.apply_index_changes`` — the same certified core the
    batch refresh wrappers use. The apply is idempotent per slice
    (survivors subtract stale AND fresh keys), so foreachBatch
    redelivery after a failure converges instead of duplicating."""
    from ..operators.similarity import apply_index_changes

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_index_changes(
            batch_df.sparkSession,
            index_path,
            batch_df,
            kind=kind,
            id_col=id_col,
            vec_col=vec_col,
        )

    return write_batch


def stream_vector_index_maintenance(
    change_stream: DataFrame,
    index_path: str,
    kind: str = "lsh",
    checkpoint: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuously-maintained ANN index (stream ∘ apply_index_changes
    ∘ partitioned layout): subscribe to the vector table's txtable
    change feed (MUST be read with ``includePreimages`` — update/delete
    preimages are what locate the stale index rows without any index
    scan) and propagate every commit to the persisted LSH or IVF index
    per trigger. Per-trigger cost is O(changed vectors × placements +
    touched partitions) — the index is never rebuilt and never scanned.
    Completes the maintained-structure family (MinHash index, join
    view, rollup cascade, value index) for the vector tiers. Caller
    picks the trigger."""
    write_batch = make_vector_index_batch_fn(
        index_path, kind=kind, id_col=id_col, vec_col=vec_col
    )
    writer = change_stream.writeStream.foreachBatch(write_batch).outputMode(
        "append"
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def stream_expectations_gate(
    spark,
    source_dir: str,
    schema: str,
    rules: dict,
    key: str,
    good_root: str,
    quarantine_root: str,
    checkpoint: str,
    num_buckets: int = 8,
    file_format: str = "parquet",
):
    """Continuous data-quality GATE (round 8, composing
    ``operators/expectations`` with the transactional sink): a landing
    stream splits per micro-batch into rule-passing rows and a
    violations-carrying quarantine, each landing in its OWN txtable
    under the shared batch-id txn watermark — so a re-delivered batch
    is a log-level no-op on BOTH tables and a row never ends up on
    both sides (the split shares one stamped plan).

    Quarantine rows store ``_violations`` as a comma-joined string
    (named rules, sorted) so triage queries need no array handling and
    the quarantine table is itself bucket-pruned on the same key.

    Scale: rule stamping is map-only codegen inside the micro-batch;
    each side's upsert is the bucket-pruned MERGE. The gate adds ZERO
    shuffles beyond the two sinks' own bucketing.

    Returns the started StreamingQuery (AvailableNow: drain and stop,
    the cron shape)."""
    from ..operators.expectations import VIOLATIONS_COL, expect
    from ..sinks.txlog import txlog_upsert

    src = (
        spark.readStream.schema(schema)
        .format(file_format)
        .load(source_dir)
    )
    app_id = checkpoint

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        good, bad = expect(batch_df, rules)
        sess = batch_df.sparkSession
        if not good.isEmpty():
            txlog_upsert(
                sess, good, good_root, key=key, num_buckets=num_buckets,
                txn_app_id=app_id + "#good", txn_version=batch_id,
            )
        if not bad.isEmpty():
            flat = bad.withColumn(
                VIOLATIONS_COL,
                F.array_join(F.array_sort(F.col(VIOLATIONS_COL)), ","),
            )
            txlog_upsert(
                sess, flat, quarantine_root, key=key,
                num_buckets=num_buckets,
                txn_app_id=app_id + "#quarantine", txn_version=batch_id,
            )

    return (
        src.writeStream.foreachBatch(gate_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
