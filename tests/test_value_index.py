"""Hyperspace-style value index (sinks/value_index.py): lookup ≡ full
scan, real bucket pruning, CDC-driven refresh across every DML verb,
stale-index safety, and watermark no-ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_demo_spark.sinks.txlog import (
    txlog_delete,
    txlog_update,
    txlog_upsert,
    txtable_history,
    read_txtable,
)
from data_pipeline_demo_spark.sinks.value_index import (
    index_selected_buckets,
    index_watermark,
    lookup_with_index,
    refresh_value_index,
)


def _seed(spark, root, n=200):
    df = spark.createDataFrame(
        [(i, ["red", "green", "blue", "gold"][i % 4], i * 1.0) for i in range(n)],
        "id long, color string, amount double",
    )
    txlog_upsert(spark, df, root, num_buckets=16)
    return df


def _truth(spark, root, value):
    return {
        r["id"]
        for r in read_txtable(spark, root)
        .filter(F.col("color").eqNullSafe(F.lit(value)))
        .collect()
    }


def test_lookup_equals_full_scan_and_prunes(spark, tmp_path):
    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    _seed(spark, root)
    v = refresh_value_index(spark, root, idx, "color")
    assert index_watermark(spark, idx) == v == 0
    for color in ("red", "green", "missing"):
        got = {
            r["id"]
            for r in lookup_with_index(
                spark, root, idx, "color", color, require_fresh=True
            ).collect()
        }
        assert got == _truth(spark, root, color)
    # a value present in only SOME buckets proves pruning: plant one
    txlog_upsert(
        spark,
        spark.createDataFrame([(7, "rare", 0.0)], "id long, color string, amount double"),
        root,
    )
    refresh_value_index(spark, root, idx, "color")
    rare_buckets = index_selected_buckets(spark, idx, "rare")
    assert len(rare_buckets) == 1  # one row → exactly its key's bucket
    assert {r["id"] for r in lookup_with_index(
        spark, root, idx, "color", "rare", require_fresh=True
    ).collect()} == {7}


def test_refresh_tracks_every_dml_verb(spark, tmp_path):
    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    _seed(spark, root)
    refresh_value_index(spark, root, idx, "color")

    # UPDATE moves values inside buckets
    txlog_update(spark, root, set={"color": "'violet'"}, where="id % 10 = 0")
    # DELETE removes some greens entirely
    txlog_delete(spark, root, where="color = 'green' AND id < 100")
    # MERGE flips a few rows to an existing value
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(3, "gold", 3.0), (1000, "gold", 0.0)],
            "id long, color string, amount double",
        ),
        root,
    )
    refresh_value_index(spark, root, idx, "color")
    for color in ("violet", "green", "gold", "red", "blue"):
        got = {
            r["id"]
            for r in lookup_with_index(
                spark, root, idx, "color", color, require_fresh=True
            ).collect()
        }
        assert got == _truth(spark, root, color), color
    # vanished pairs are really deleted from the index (no stale buckets)
    green_buckets = set(index_selected_buckets(spark, idx, "green"))
    truth_buckets = {
        r[0]
        for r in read_txtable(spark, root)
        .filter("color = 'green'")
        .select(F.pmod(F.xxhash64("id"), F.lit(16)).cast("int"))
        .distinct()
        .collect()
    }
    assert green_buckets == truth_buckets


def test_stale_index_falls_back_exactly(spark, tmp_path):
    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    _seed(spark, root)
    refresh_value_index(spark, root, idx, "color")
    # table moves on; index does not
    txlog_upsert(
        spark,
        spark.createDataFrame([(5000, "red", 1.0)], "id long, color string, amount double"),
        root,
    )
    got = {
        r["id"]
        for r in lookup_with_index(spark, root, idx, "color", "red").collect()
    }
    assert 5000 in got and got == _truth(spark, root, "red")  # exact via fallback
    with pytest.raises(ValueError, match="refresh_value_index"):
        lookup_with_index(spark, root, idx, "color", "red", require_fresh=True)


def test_refresh_noop_and_metadata_only_advance(spark, tmp_path):
    from data_pipeline_demo_spark.sinks.txlog import restore_txtable

    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    _seed(spark, root)
    refresh_value_index(spark, root, idx, "color")
    before = len(txtable_history(spark, idx))
    # same version: pure no-op, no index commit
    refresh_value_index(spark, root, idx, "color")
    assert len(txtable_history(spark, idx)) == before
    # metadata-only source commit (restore to an identical snapshot is
    # blocked; make a row change + restore back -> two commits, net-zero
    # rows): refresh stays EXACT through it
    txlog_upsert(
        spark,
        spark.createDataFrame([(9999, "red", 0.0)], "id long, color string, amount double"),
        root,
    )
    restore_txtable(spark, root, version=0)
    v = refresh_value_index(spark, root, idx, "color")
    assert index_watermark(spark, idx) == v
    got = {
        r["id"]
        for r in lookup_with_index(
            spark, root, idx, "color", "red", require_fresh=True
        ).collect()
    }
    assert got == _truth(spark, root, "red") and 9999 not in got


def test_null_values_indexed(spark, tmp_path):
    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    df = spark.createDataFrame(
        [(1, None, 0.0), (2, "x", 0.0), (3, None, 0.0)],
        "id long, color string, amount double",
    )
    txlog_upsert(spark, df, root, num_buckets=4)
    refresh_value_index(spark, root, idx, "color")
    got = {
        r["id"]
        for r in lookup_with_index(
            spark, root, idx, "color", None, require_fresh=True
        ).collect()
    }
    assert got == {1, 3}


def test_value_index_across_mor_delete(spark, tmp_path):
    """A merge-on-read DELETE (deletion vectors — no data file changes)
    must still flow through the CDC refresh: stale (value, bucket)
    pairs drop, and lookups never surface deleted rows."""
    root = str(tmp_path / "t")
    ix = str(tmp_path / "ix")
    _seed(spark, root)
    refresh_value_index(spark, root, ix, "color")
    # delete EVERY 'gold' row via deletion vectors
    n = txlog_delete(spark, root, where="color = 'gold'", mode="merge-on-read")
    assert n == 50
    refresh_value_index(spark, root, ix, "color")
    # the index no longer selects any bucket for 'gold'
    assert index_selected_buckets(spark, ix, "gold") == []
    got = {
        r["id"]
        for r in lookup_with_index(
            spark, root, ix, "color", "gold", require_fresh=True
        ).collect()
    }
    assert got == set()
    # untouched values still resolve exactly, with deleted rows absent
    assert {
        r["id"]
        for r in lookup_with_index(
            spark, root, ix, "color", "red", require_fresh=True
        ).collect()
    } == _truth(spark, root, "red")


def test_value_index_across_rebucket(spark, tmp_path):
    """Bucket-count evolution invalidates every stored bucket id and
    produces an EMPTY change feed (rows unchanged) — the refresh must
    detect the modulus change from the watermark manifest and rebuild,
    or lookups would scan old-modulus bucket ids and miss rows."""
    from data_pipeline_demo_spark.sinks.txlog import rebucket_txtable

    root = str(tmp_path / "t")
    ix = str(tmp_path / "ix")
    _seed(spark, root)  # 16 buckets
    refresh_value_index(spark, root, ix, "color")
    rebucket_txtable(spark, root, 4)
    refresh_value_index(spark, root, ix, "color")
    for color in ("red", "green", "blue", "gold"):
        assert set(index_selected_buckets(spark, ix, color)) <= set(range(4))
        got = {
            r["id"]
            for r in lookup_with_index(
                spark, root, ix, "color", color, require_fresh=True
            ).collect()
        }
        assert got == _truth(spark, root, color)


def test_stale_lookup_is_hybrid_not_full_scan(spark, tmp_path):
    """Round-8: a stale index no longer costs a full scan. Untouched
    buckets stay index-pruned; only buckets changed since the
    watermark are read outright — so the scan set is bounded by the
    staleness, and results stay exact in every direction."""
    from data_pipeline_demo_spark.sinks.value_index import (
        _stale_scan_buckets,
    )
    from data_pipeline_demo_spark.sinks.txlog import _latest_manifest

    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    _seed(spark, root)  # 200 rows, 16 buckets, 4 colors
    # plant a rare value so the index can prove pruning
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(7, "rare", 0.0)], "id long, color string, amount double"
        ),
        root,
    )
    wm = refresh_value_index(spark, root, idx, "color")
    # table moves on: ONE bucket changes (new key, new value)
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(5000, "fresh", 1.0)], "id long, color string, amount double"
        ),
        root,
    )
    latest = _latest_manifest(spark, root)
    assert index_watermark(spark, idx) == wm < latest["version"]

    # 1) value known to the index: scan = its bucket + the changed one
    scan = _stale_scan_buckets(spark, root, idx, wm, latest, "rare")
    assert scan is not None and len(scan) <= 2 < 16
    got = {
        r["id"]
        for r in lookup_with_index(spark, root, idx, "color", "rare").collect()
    }
    assert got == {7}

    # 2) value born AFTER the watermark: index has no hits, the changed
    # bucket alone surfaces it
    scan = _stale_scan_buckets(spark, root, idx, wm, latest, "fresh")
    assert scan is not None and len(scan) == 1
    got = {
        r["id"]
        for r in lookup_with_index(spark, root, idx, "color", "fresh").collect()
    }
    assert got == {5000}

    # 3) merge-on-read delete of the rare row while stale: the DV-only
    # bucket change is picked up and the row never surfaces
    txlog_delete(spark, root, where="color = 'rare'", mode="merge-on-read")
    latest = _latest_manifest(spark, root)
    scan = _stale_scan_buckets(spark, root, idx, wm, latest, "rare")
    assert scan is not None
    got = {
        r["id"]
        for r in lookup_with_index(spark, root, idx, "color", "rare").collect()
    }
    assert got == set()

    # 4) every color stays exact through the hybrid path
    for color in ("red", "green", "blue", "gold", "missing"):
        got = {
            r["id"]
            for r in lookup_with_index(
                spark, root, idx, "color", color
            ).collect()
        }
        assert got == _truth(spark, root, color), color


def test_stale_lookup_corrupt_watermark_raises(spark, tmp_path):
    """A vacuumed watermark manifest means a full scan (None); a
    watermark manifest that exists but does not parse is corruption
    and raises instead of silently scanning everything."""
    from data_pipeline_demo_spark.sinks.txlog import _latest_manifest
    from data_pipeline_demo_spark.sinks.value_index import (
        _stale_scan_buckets,
    )

    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    _seed(spark, root)
    wm = refresh_value_index(spark, root, idx, "color")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(5000, "fresh", 1.0)], "id long, color string, amount double"
        ),
        root,
    )
    latest = _latest_manifest(spark, root)
    wm_file = tmp_path / "t" / "_commits" / f"{wm:020d}.json"
    wm_file.write_text("{not json")
    # drop the local checksum so the read reaches the JSON parse
    (wm_file.parent / f".{wm_file.name}.crc").unlink(missing_ok=True)
    with pytest.raises(ValueError):
        _stale_scan_buckets(spark, root, idx, wm, latest, "red")
    wm_file.unlink()
    assert _stale_scan_buckets(spark, root, idx, wm, latest, "red") is None


def test_stale_lookup_full_scan_only_when_modulus_changed(spark, tmp_path):
    """After rebucket_txtable the stored bucket ids mean nothing: the
    hybrid helper refuses (None) and the lookup falls back to the full
    scan — still exact."""
    from data_pipeline_demo_spark.sinks.txlog import (
        _latest_manifest,
        rebucket_txtable,
    )
    from data_pipeline_demo_spark.sinks.value_index import (
        _stale_scan_buckets,
    )

    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    _seed(spark, root)
    wm = refresh_value_index(spark, root, idx, "color")
    rebucket_txtable(spark, root, new_num_buckets=4)
    latest = _latest_manifest(spark, root)
    assert _stale_scan_buckets(spark, root, idx, wm, latest, "red") is None
    got = {
        r["id"]
        for r in lookup_with_index(spark, root, idx, "color", "red").collect()
    }
    assert got == _truth(spark, root, "red")


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_vix_op = st.tuples(
    st.sampled_from(["upsert", "delete", "mor_delete", "update", "refresh"]),
    st.integers(min_value=1, max_value=8),   # row id
    st.sampled_from(["red", "green", "blue", None]),  # color value
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_vix_op, min_size=1, max_size=6))
def test_value_index_model_random_dml(spark, tmp_path_factory, ops):
    """Model check for the round-8 value-grain refresh: after ANY short
    random DML history (inserts, value updates, copy-on-write and
    merge-on-read deletes) with refreshes interleaved at arbitrary
    points, one final refresh makes the maintained index agree with a
    from-scratch rebuild AND with brute-force truth for every value —
    including NULL and a never-present value."""
    import pyspark.sql.functions as F

    from data_pipeline_demo_spark.sinks.txlog import txlog_update

    tmp = tmp_path_factory.mktemp("vix_model")
    root, ix, ix2 = str(tmp / "t"), str(tmp / "ix"), str(tmp / "ix2")

    def _rows_df(pairs):
        return spark.createDataFrame(pairs, "id long, color string")

    txlog_upsert(
        spark,
        _rows_df([(1, "red"), (2, "green"), (3, None), (4, "blue")]),
        root, num_buckets=4,
    )
    refresh_value_index(spark, root, ix, "color")
    for i, (kind, rid, color) in enumerate(ops):
        if kind == "upsert":
            txlog_upsert(spark, _rows_df([(rid, color)]), root)
        elif kind == "delete":
            txlog_delete(spark, root, where=f"id = {rid}")
        elif kind == "mor_delete":
            pred = (
                f"color = '{color}'" if color is not None else "color IS NULL"
            )
            txlog_delete(spark, root, where=pred, mode="merge-on-read")
        elif kind == "update":
            val = "NULL" if color is None else f"'{color}'"
            txlog_update(spark, root, set={"color": val},
                         where=f"id = {rid}")
        else:
            refresh_value_index(spark, root, ix, "color")
    refresh_value_index(spark, root, ix, "color")
    refresh_value_index(spark, root, ix2, "color")  # from-scratch build

    snapshot = read_txtable(spark, root)
    for color in ("red", "green", "blue", None, "never-present"):
        truth_buckets = sorted(
            r[0]
            for r in snapshot.filter(F.col("color").eqNullSafe(F.lit(color)))
            .select(F.pmod(F.xxhash64("id"), F.lit(4)).cast("int"))
            .distinct()
            .collect()
        )
        maintained = index_selected_buckets(spark, ix, color)
        rebuilt = index_selected_buckets(spark, ix2, color)
        assert maintained == truth_buckets, (color, ops)
        assert rebuilt == truth_buckets, (color, ops)
        got = {
            r["id"]
            for r in lookup_with_index(
                spark, root, ix, "color", color, require_fresh=True
            ).collect()
        }
        want = {
            r["id"]
            for r in snapshot.filter(
                F.col("color").eqNullSafe(F.lit(color))
            ).collect()
        }
        assert got == want, (color, ops)


def test_composite_index_lookup_and_maintenance(spark, tmp_path):
    """Round-8 composite index: (color, band) pairs index together —
    the probe is one index-bucket point read keyed by the injective
    two-part render (NULL parts distinct from the string 'None' and
    from swapped positions), lookups re-apply per-column predicates,
    and CDC refresh keeps the composite exact through DML."""
    from pyspark.sql import functions as F

    from data_pipeline_demo_spark.sinks.txlog import txlog_update

    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    df = spark.createDataFrame(
        [
            (1, "red", "hi"), (2, "red", "lo"), (3, "green", "hi"),
            (4, None, "hi"), (5, "red", None), (6, None, None),
            (7, "red", "hi"),
        ],
        "id long, color string, band string",
    )
    txlog_upsert(spark, df, root, num_buckets=8)
    refresh_value_index(spark, root, idx, ["color", "band"])

    def truth(color, band):
        return {
            r["id"]
            for r in read_txtable(spark, root)
            .filter(
                F.col("color").eqNullSafe(F.lit(color))
                & F.col("band").eqNullSafe(F.lit(band))
            )
            .collect()
        }

    for combo in [("red", "hi"), ("red", "lo"), ("green", "hi"),
                  (None, "hi"), ("red", None), (None, None),
                  ("hi", "red"),  # swapped: must NOT alias ('red','hi')
                  ("missing", "hi")]:
        got = {
            r["id"]
            for r in lookup_with_index(
                spark, root, idx, ["color", "band"], combo,
                require_fresh=True,
            ).collect()
        }
        assert got == truth(*combo), combo

    # pruning is real: a combo present in ONE row selects few buckets
    assert len(
        index_selected_buckets(spark, idx, ("green", "hi"),
                               col=["color", "band"])
    ) == 1

    # DML: move a row's band, delete another, refresh, stay exact
    txlog_update(spark, root, set={"band": "'lo'"}, where="id = 3")
    txlog_delete(spark, root, where="id = 2")
    refresh_value_index(spark, root, idx, ["color", "band"])
    assert {
        r["id"]
        for r in lookup_with_index(
            spark, root, idx, ["color", "band"], ("green", "lo"),
            require_fresh=True,
        ).collect()
    } == {3}
    assert lookup_with_index(
        spark, root, idx, ["color", "band"], ("green", "hi"),
        require_fresh=True,
    ).count() == 0
    assert lookup_with_index(
        spark, root, idx, ["color", "band"], ("red", "lo"),
        require_fresh=True,
    ).count() == 0

    # arity mismatch refuses loudly
    with pytest.raises(ValueError, match="composite lookup needs 2"):
        lookup_with_index(spark, root, idx, ["color", "band"], ("red",),
                          require_fresh=True)


def test_range_lookup_equals_full_scan_and_prunes(spark, tmp_path):
    """Round-9 range probe: lookup_range_with_index over a numeric
    non-key column matches the plain filtered scan for closed, open,
    and empty ranges, and a range confined to planted values selects a
    strict subset of the buckets."""
    from data_pipeline_demo_spark.sinks.value_index import (
        index_selected_buckets_range,
        lookup_range_with_index,
    )

    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    df = spark.createDataFrame(
        [(i, i % 50, f"g{i % 4}") for i in range(300)],
        "id long, score long, grp string",
    )
    txlog_upsert(spark, df, root, num_buckets=16)
    refresh_value_index(spark, root, idx, "score")

    def truth(lo, hi):
        rows = read_txtable(spark, root)
        if lo is not None:
            rows = rows.filter(F.col("score") >= lo)
        if hi is not None:
            rows = rows.filter(F.col("score") <= hi)
        return {r["id"] for r in rows.collect()}

    for lo, hi in [(10, 20), (None, 5), (45, None), (60, 90), (20, 10)]:
        got = {
            r["id"]
            for r in lookup_range_with_index(
                spark, root, idx, "score", lo, hi, require_fresh=True
            ).collect()
        }
        assert got == truth(lo, hi), (lo, hi)

    # pruning is real: plant one row with an outlying score — probing
    # around it selects that row's bucket only
    txlog_upsert(
        spark,
        spark.createDataFrame([(7, 10_000, "g0")],
                              "id long, score long, grp string"),
        root,
    )
    refresh_value_index(spark, root, idx, "score")
    assert len(index_selected_buckets_range(spark, idx, 9_999, 10_001)) == 1
    got = {
        r["id"]
        for r in lookup_range_with_index(
            spark, root, idx, "score", 9_999, 10_001, require_fresh=True
        ).collect()
    }
    assert got == {7}


def test_range_lookup_stale_hybrid_and_guards(spark, tmp_path):
    """Stale index: the hybrid range scan stays exact through inserts
    (new values in new buckets), merge-on-read deletes (DV-only bucket
    change), and updates; require_fresh raises; bounds of mixed types
    and composite indexes refuse."""
    from data_pipeline_demo_spark.sinks.value_index import (
        lookup_range_with_index,
    )

    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    df = spark.createDataFrame(
        [(i, i % 50, f"g{i % 4}") for i in range(200)],
        "id long, score long, grp string",
    )
    txlog_upsert(spark, df, root, num_buckets=16)
    refresh_value_index(spark, root, idx, "score")
    # the table moves on: insert outliers, MOR-delete a band, update
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(1000 + i, 200 + i, "gx") for i in range(10)],
            "id long, score long, grp string",
        ),
        root,
    )
    txlog_delete(spark, root, where="score >= 10 AND score < 15",
                 mode="merge-on-read")
    txlog_update(spark, root, set={"score": "score + 1"},
                 where="id = 0")

    def truth(lo, hi):
        rows = read_txtable(spark, root).filter(
            (F.col("score") >= lo) & (F.col("score") <= hi)
        )
        return {r["id"] for r in rows.collect()}

    for lo, hi in [(0, 20), (195, 230), (5, 14)]:
        got = {
            r["id"]
            for r in lookup_range_with_index(
                spark, root, idx, "score", lo, hi
            ).collect()
        }
        assert got == truth(lo, hi), (lo, hi)

    with pytest.raises(ValueError, match="refresh_value_index"):
        lookup_range_with_index(
            spark, root, idx, "score", 0, 20, require_fresh=True
        )
    with pytest.raises(ValueError, match="share a type"):
        lookup_range_with_index(spark, root, idx, "score", 0, "z")
    with pytest.raises(ValueError, match="at least one bound"):
        lookup_range_with_index(spark, root, idx, "score")
    with pytest.raises(ValueError, match="single-column"):
        lookup_range_with_index(
            spark, root, idx, ["score", "grp"], 0, 20
        )


def test_range_lookup_null_values_never_match(spark, tmp_path):
    """NULLs in the indexed column stay out of every range (SQL
    comparison semantics), and their index row never pollutes the
    bucket set."""
    from data_pipeline_demo_spark.sinks.value_index import (
        lookup_range_with_index,
    )

    root = str(tmp_path / "t")
    idx = str(tmp_path / "ix")
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 15), (4, None), (5, 25)],
        "id long, score long",
    )
    txlog_upsert(spark, df, root, num_buckets=4)
    refresh_value_index(spark, root, idx, "score")
    got = {
        r["id"]
        for r in lookup_range_with_index(
            spark, root, idx, "score", 0, 20, require_fresh=True
        ).collect()
    }
    assert got == {1, 3}
