"""Incrementally-maintained JOIN materialization on the transactional
table — the join counterpart of the rollup cascade's CDC-driven
aggregate refresh (`operators/rollup.py`).

Strategy: **dirty-key partial recompute** (the maintenance plan
production systems reach for when deltas touch both sides): a join row
(a ⋈ b) can only appear, change, or disappear if its JOIN KEY occurs in
either side's change feed — PROVIDED updates contribute both their
preimage and postimage keys. Feed the refresh from
``txtable_changes(..., include_preimages=True)`` (the Delta-CDF shape,
`sinks/txlog.py`): a row whose join key itself moved then dirties BOTH
the old and new key. A postimage-only feed silently misses the OLD key
of a key-moving update and leaves its stale join rows behind —
`dirty_join_keys` is correct exactly when its inputs are
algebraically complete. The
refresh therefore:

1. semi-joins both CURRENT snapshots down to the dirty keys,
2. recomputes the join for exactly that slice,
3. deletes view rows under dirty keys that the new slice no longer
   produces (bucket-pruned ``txlog_delete(keys=...)``),
4. MERGEs the slice (bucket-pruned ``txlog_upsert``).

Cost is O(dirty share of both tables + touched view buckets) — never
O(view) — and every step is the engine's existing bucket-pruned DML.
Equivalence with a from-scratch rebuild under composed
insert/update/delete histories is pinned in
``tests/test_join_view.py``; the classic delta-join algebra
(ΔA ⋈ B ∪ A ⋈ ΔB with over-count correction) gives the same result but
needs preimage-joined deletions against remote snapshots — the
dirty-key slice form trades a bounded recompute for that bookkeeping
and stays exactly correct by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .txlog import read_txtable, txlog_delete, txlog_upsert
from .upsert import composite_key

VIEW_KEY = "__vkey"


def _with_view_key(joined: DataFrame, on: str, a_id: str, b_id: str) -> DataFrame:
    # null-distinct: (NULL, 5) and (5, NULL) must not share a view key,
    # or one MERGE row would silently overwrite the other
    return joined.withColumn(VIEW_KEY, composite_key([on, a_id, b_id]))


def build_join_view(
    spark: SparkSession,
    view_root: str,
    a: DataFrame,
    b: DataFrame,
    on: str,
    a_id: str,
    b_id: str,
    num_buckets: int = 16,
) -> int:
    """Materialize the inner join ``a ⋈ b`` (equality on ``on``; both
    sides must carry the column) into a txtable at ``view_root``, keyed
    by the composite (join key, ``a_id``, ``b_id``) — unique per join
    row, so later refreshes MERGE deterministically."""
    joined = a.join(b, on, "inner")
    keyed = _with_view_key(joined, on, a_id, b_id)
    return txlog_upsert(
        spark, keyed, view_root, key=VIEW_KEY, num_buckets=num_buckets
    )


def dirty_join_keys(on: str, *change_feeds: DataFrame) -> DataFrame:
    """Distinct join-key values touched by any of the change feeds
    (every ``_change_type`` row counts — preimages dirty the OLD key of
    a key-moving update, postimages the new one). Pass feeds produced
    with ``include_preimages=True``; see the module docstring."""
    if not change_feeds:
        raise ValueError("need at least one change feed")
    parts = [c.select(F.col(on)) for c in change_feeds]
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out.dropDuplicates()


def refresh_join_view(
    spark: SparkSession,
    view_root: str,
    a_new: DataFrame,
    b_new: DataFrame,
    dirty: DataFrame,
    on: str,
    a_id: str,
    b_id: str,
) -> dict[str, int]:
    """Refresh the materialized join for the ``dirty`` join keys (one
    ``on`` column, e.g. from :func:`dirty_join_keys`): recompute the
    join slice under those keys from the CURRENT snapshots, delete view
    rows the slice no longer produces, MERGE the rest. View rows whose
    join key is not dirty are untouched by construction — a join row
    can only change if one of its inputs changed, and every changed
    input row dirties its key(s)."""
    k = dirty.select(F.col(on)).dropDuplicates()
    a_slice = a_new.join(k, on, "left_semi")
    b_slice = b_new.join(k, on, "left_semi")
    new_slice = _with_view_key(a_slice.join(b_slice, on, "inner"), on, a_id, b_id)

    try:
        view = read_txtable(spark, view_root)
        stale = (
            view.join(k, on, "left_semi")
            .select(VIEW_KEY)
            .join(new_slice.select(VIEW_KEY), VIEW_KEY, "left_anti")
        )
        deleted = txlog_delete(spark, view_root, keys=stale)
    except FileNotFoundError as e:
        # a prior refresh may have deleted EVERY view row (both sides'
        # dirty keys stopped joining) — the current version is then
        # empty and unreadable, but "nothing to delete" is exactly
        # right; a genuinely missing table still raises
        if "is empty" not in str(e):
            raise
        deleted = 0
    upserted = txlog_upsert(spark, new_slice, view_root)
    return {"deleted": int(deleted), "upserted": int(upserted)}
