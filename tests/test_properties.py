"""Property-based tests (SURVEY.md §5.4, hypothesis): the cleaning spec
never throws and round-trips its own grammar; the txtable MERGE matches
a dict model and is idempotent under re-delivery.

Each hypothesis example batches its inputs into ONE small DataFrame so a
property costs one Spark job, not one per string; example counts are
tuned to keep the file under ~a minute.
"""

import re
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_pipeline_demo_spark.functions.cleaning import (
    clean_money,
    parse_datetime_robust,
)

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# grammar of the reference's money feed: optional sign/$, thousands groups
money_strings = st.one_of(
    st.builds(
        lambda sign, dollar, whole, cents: f"{sign}{dollar}{whole}.{cents:02d}",
        st.sampled_from(["", "-"]),
        st.sampled_from(["", "$"]),
        st.integers(0, 10**9).map(lambda n: f"{n:,}"),
        st.integers(0, 99),
    ),
    st.sampled_from(["", "nan", "NaN", "none", "NULL", " "]),
)

garbage = st.text(max_size=20)


@given(st.lists(money_strings, min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_clean_money_roundtrips_grammar(spark, raws):
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [r["v"] for r in df.select(clean_money("raw").alias("v")).collect()]
    for raw, v in zip(raws, got):
        t = raw.strip()
        if t.lower() in ("", "nan", "none", "null"):
            assert v is None, (raw, v)
        else:
            assert v == float(re.sub(r"[$,]", "", t)), (raw, v)


@given(st.lists(garbage, min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_cleaning_never_throws_on_garbage(spark, raws):
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    out = df.select(
        clean_money("raw").alias("m"),
        parse_datetime_robust("raw").alias("d"),
    ).collect()
    assert len(out) == len(raws)  # no exception is the property


@given(
    st.lists(
        st.datetimes(
            min_value=__import__("datetime").datetime(2000, 1, 1),
            max_value=__import__("datetime").datetime(2069, 12, 31, 23, 59),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_datetime_roundtrips_reference_formats(spark, dts):
    # render through the reference's primary day-first format, parse back
    raws = [d.strftime("%d/%m/%Y %H:%M") for d in dts]
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [r["d"] for r in df.select(parse_datetime_robust("raw").alias("d")).collect()]
    assert got == [d.date() for d in dts]


# --- rollup refresh ≡ one-shot under arbitrary increments ----------------

from datetime import datetime

from data_pipeline_demo_spark.operators import rollup, sampling

event_rows = st.lists(
    st.tuples(
        st.integers(0, 10**6),
        st.datetimes(
            min_value=datetime(2024, 1, 1), max_value=datetime(2024, 2, 15)
        ),
        st.sampled_from(["a", "b", None]),
        st.integers(-(10**8), 10**8).map(lambda n: n / 100.0),  # cents-exact
    ),
    min_size=1,
    max_size=40,
)


@given(rows=event_rows, cut=st.integers(0, 40))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_refresh_cascade_property(spark, rows, cut):
    """Any batch split at any point, refreshed as two increments, must
    equal the one-shot cascade at every tier — including null dims and
    colliding minutes."""
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    a = spark.createDataFrame(rows[:cut] or [], df.schema)
    b = spark.createDataFrame(rows[cut:] or [], df.schema)
    base = tempfile.mkdtemp(prefix="rollup_prop_")
    try:
        rollup.refresh_cascade(spark, a, base)
        rollup.refresh_cascade(spark, b, base)
        one_shot = rollup.rollup_cascade(df)
        nullsafe = lambda row: [(v is None, v) for v in row]
        for lvl in ("minute", "day"):
            got = sorted(
                map(tuple, rollup.finalize(rollup.read_rollup(spark, base, lvl)).collect()),
                key=nullsafe,
            )
            want = sorted(
                map(tuple, rollup.finalize(one_shot[lvl]).collect()), key=nullsafe
            )
            assert got == want, lvl
    finally:
        shutil.rmtree(base, ignore_errors=True)


@given(
    ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=200, unique=True),
    f1=st.integers(0, 100),
    f2=st.integers(0, 100),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sampling_laws_property(spark, ids, f1, f2):
    """Hash-threshold laws for any id set and fractions: nestedness at
    one salt, and train/holdout is a disjoint cover at any fraction."""
    lo, hi = sorted((f1, f2))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    small = {r["doc_id"] for r in sampling.deterministic_sample(df, lo / 100).collect()}
    big = {r["doc_id"] for r in sampling.deterministic_sample(df, hi / 100).collect()}
    assert small <= big
    train, hold = sampling.train_holdout_split(df, f1 / 100)
    t = {r["doc_id"] for r in train.collect()}
    h = {r["doc_id"] for r in hold.collect()}
    assert t.isdisjoint(h) and t | h == set(ids)


# --- bloom-filter pruning laws -------------------------------------------

key_lists = st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=60)


@given(probe_keys=key_lists, build_keys=key_lists)
@settings(**_SETTINGS)
def test_bloom_prune_superset_law(spark, probe_keys, build_keys):
    """For ANY probe/build key sets: pruning never loses a true match
    (no false negatives), and with a comfortably sized filter the
    survivors stay a subset of the probe rows."""
    from data_pipeline_demo_spark.operators import bloom

    probe = spark.createDataFrame([(k,) for k in probe_keys], "k long")
    build = spark.createDataFrame([(k,) for k in build_keys], "k long")
    pruned = {r["k"] for r in bloom.bloom_prune(probe, build, ["k"]).collect()}
    matches = set(probe_keys) & set(build_keys)
    assert matches <= pruned
    assert pruned <= set(probe_keys)


# ---- txlog: model-based MERGE law ------------------------------------
# Any sequence of upsert batches must leave the table equal to a plain
# dict replayed in the same order (last write per key wins), at every
# intermediate version (time travel = replaying a prefix).

batches = st.lists(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 10**6)),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@given(batches)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_txlog_merge_matches_dict_model(spark, bs):
    from data_pipeline_demo_spark.sinks.txlog import read_txtable, txlog_upsert

    root = tempfile.mkdtemp(prefix="txprop")
    try:
        model: dict[int, int] = {}
        for version, batch in enumerate(bs):
            # within-batch duplicate keys: keep an arbitrary single row,
            # so make the model unambiguous by deduping first
            dedup = dict(batch)  # last wins in python; any single row ok
            df = spark.createDataFrame(
                list(dedup.items()), "id long, v long"
            )
            n = txlog_upsert(spark, df, root, num_buckets=4)
            model.update(dedup)
            assert n == len(model)
            got = {
                r["id"]: r["v"]
                for r in read_txtable(spark, root, version=version).collect()
            }
            assert got == model
        # re-delivery of the last batch leaves the table unchanged
        assert txlog_upsert(spark, df, root) == len(model)
        assert {r["id"]: r["v"] for r in read_txtable(spark, root).collect()} == model
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---- chunking: reconstruction law ------------------------------------
# For any text and any valid (size, overlap), stitching chunk 0 plus
# each later chunk minus its overlap reproduces the document exactly.

chunk_cases = st.tuples(
    st.text(alphabet="abc d\n", max_size=400),
    st.integers(2, 50),          # size
    st.integers(0, 40),          # overlap (clamped below size)
)


@given(st.lists(chunk_cases, min_size=1, max_size=8))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunk_reconstruction_law(spark, cases):
    from data_pipeline_demo_spark.operators.chunking import chunk_by_chars

    for text, size, overlap in cases:
        overlap = min(overlap, size - 1)
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        rows = sorted(
            chunk_by_chars(df, size=size, overlap=overlap).collect(),
            key=lambda r: r["chunk_id"],
        )
        rebuilt = rows[0]["chunk_text"] + "".join(
            r["chunk_text"][overlap:] for r in rows[1:]
        )
        assert rebuilt == text
        assert all(len(r["chunk_text"]) <= size for r in rows)


# ---- txlog: model-based MERGE+DELETE law -----------------------------
# Any interleaving of upsert batches, key deletes, and predicate
# deletes must leave the table equal to a plain dict replayed in the
# same order, with every delete reporting the model's removal count.

tx_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("upsert"),
            st.lists(
                st.tuples(st.integers(0, 12), st.integers(0, 10**6)),
                min_size=1, max_size=6,
            ),
        ),
        st.tuples(
            st.just("delete_keys"),
            st.lists(st.integers(0, 12), min_size=1, max_size=4),
        ),
        st.tuples(st.just("delete_where"), st.integers(0, 10**6)),
        st.tuples(
            st.just("update_where"),
            st.tuples(st.integers(0, 10**6), st.integers(1, 1000)),
        ),
    ),
    min_size=1,
    max_size=6,
)


@given(tx_ops)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_txlog_upsert_delete_matches_dict_model(spark, ops):
    from data_pipeline_demo_spark.sinks.txlog import (
        read_txtable,
        txlog_delete,
        txlog_upsert,
    )

    root = tempfile.mkdtemp(prefix="txprop")
    try:
        model: dict[int, int] = {1: 0}
        txlog_upsert(
            spark,
            spark.createDataFrame([(1, 0)], "id long, v long"),
            root,
            num_buckets=4,
        )
        for kind, arg in ops:
            if kind == "upsert":
                dedup = dict(arg)
                txlog_upsert(
                    spark,
                    spark.createDataFrame(list(dedup.items()), "id long, v long"),
                    root,
                )
                model.update(dedup)
            elif kind == "delete_keys":
                n = txlog_delete(
                    spark,
                    root,
                    keys=spark.createDataFrame(
                        [(k,) for k in set(arg)], "id long"
                    ),
                )
                expect = sum(1 for k in set(arg) if k in model)
                for k in arg:
                    model.pop(k, None)
                assert n == expect
            elif kind == "delete_where":  # v > threshold
                n = txlog_delete(spark, root, where=f"v > {arg}")
                doomed = [k for k, v in model.items() if v > arg]
                for k in doomed:
                    del model[k]
                assert n == len(doomed)
            else:  # update_where: v > threshold -> v += delta
                thresh, delta = arg
                from data_pipeline_demo_spark.sinks.txlog import txlog_update

                n = txlog_update(
                    spark,
                    root,
                    set={"v": f"v + {delta}"},
                    where=f"v > {thresh}",
                )
                hits = [k for k, v in model.items() if v > thresh]
                for k in hits:
                    model[k] += delta
                assert n == len(hits)
            if model:
                got = {
                    r["id"]: r["v"] for r in read_txtable(spark, root).collect()
                }
                assert got == model
    finally:
        shutil.rmtree(root, ignore_errors=True)


@given(st.lists(money_strings, min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_clean_money_decimal_exact_cents(spark, raws):
    """Payments-grade money path: cleaning onto DECIMAL(18,2)
    round-trips the money grammar EXACTLY (cent-for-cent Decimal
    equality, not float closeness), and the batch SUM equals the
    python-Decimal sum — no binary-float drift at any width."""
    from decimal import Decimal

    from data_pipeline_demo_spark.functions.cleaning import clean_money_decimal

    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [
        r["v"] for r in df.select(clean_money_decimal("raw").alias("v")).collect()
    ]
    expect = []
    for raw, v in zip(raws, got):
        t = raw.strip()
        if t.lower() in ("", "nan", "none", "null"):
            assert v is None, (raw, v)
            continue
        want = Decimal(re.sub(r"[$,]", "", t)).quantize(Decimal("0.01"))
        assert isinstance(v, Decimal) and v == want, (raw, v, want)
        expect.append(want)
    total = (
        df.select(clean_money_decimal("raw").alias("v"))
        .agg(F.sum("v").alias("s"))
        .first()["s"]
    )
    assert total == (sum(expect) if expect else None)
