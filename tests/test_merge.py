"""Conditional / multi-action MERGE (sinks/merge.py + the SQL grammar).

Delta's full clause surface: WHEN MATCHED [AND cond] THEN UPDATE SET
col = expr / DELETE, WHEN NOT MATCHED [AND cond] THEN INSERT (cols)
VALUES (exprs), WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE —
clause order is evaluation order, first satisfied clause acts.
"""

import pytest

from data_pipeline_demo_spark.sinks.merge import (
    MatchedClause,
    NotMatchedClause,
    txlog_merge,
)
from data_pipeline_demo_spark.sinks.sql_dml import (
    UnsupportedSqlError,
    txtable_sql,
)
from data_pipeline_demo_spark.sinks.txlog import (
    ConstraintViolationError,
    _latest_manifest,
    read_txtable,
    set_table_constraint,
    txlog_upsert,
    txtable_changes,
)


def _mk(spark, tmp_path, rows=None):
    root = str(tmp_path / "t")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            rows
            or [
                (1, "a", 10.0),
                (2, "b", 20.0),
                (3, "c", 30.0),
                (4, "d", 40.0),
            ],
            "id long, v string, amt double",
        ),
        root,
        key="id",
        num_buckets=4,
    )
    return root


def _state(spark, root):
    return {
        r.id: (r.v, r.amt) for r in read_txtable(spark, root).collect()
    }


def test_multi_action_merge_sql_end_to_end(spark, tmp_path):
    root = _mk(spark, tmp_path)
    spark.createDataFrame(
        [
            (1, "A", 100.0),
            (2, "B", -5.0),
            (3, "C", 300.0),
            (9, "Z", 900.0),
            (10, "Y", -1.0),
        ],
        "id long, v string, amt double",
    ).createOrReplaceTempView("m_src")
    n = txtable_sql(
        spark,
        f"MERGE INTO txtable.`{root}` AS tgt USING m_src AS src "
        "ON tgt.id = src.id "
        "WHEN MATCHED AND src.amt < 0 THEN DELETE "
        "WHEN MATCHED AND tgt.amt >= 20 THEN UPDATE SET "
        "v = src.v, amt = tgt.amt + src.amt "
        "WHEN NOT MATCHED AND src.amt > 0 THEN INSERT (id, v, amt) "
        "VALUES (src.id, lower(src.v), src.amt * 2)",
    )
    assert n == 3  # 1 delete + 1 update + 1 insert
    assert _state(spark, root) == {
        1: ("a", 10.0),       # matched, no clause fired: untouched
        3: ("C", 330.0),      # second clause: explicit SET exprs
        4: ("d", 40.0),       # target-only, no BY SOURCE clause
        9: ("z", 1800.0),     # conditional INSERT with exprs
    }


def test_clause_order_first_match_wins(spark, tmp_path):
    root = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "x", 1.0)], "id long, v string, amt double"
    )
    # both clauses' conditions hold for id=2; declaration order decides
    res = txlog_merge(
        spark,
        src,
        root,
        matched=[
            MatchedClause(
                "update", condition="t.amt > 0", assignments={"v": "'first'"}
            ),
            MatchedClause("delete", condition="t.amt > 0"),
        ],
    )
    assert (res.rows_updated, res.rows_deleted) == (1, 0)
    assert _state(spark, root)[2] == ("first", 20.0)


def test_set_star_and_insert_star_through_general_path(spark, tmp_path):
    root = _mk(spark, tmp_path)
    spark.createDataFrame(
        [(1, "upd", 111.0), (8, "new", 888.0)],
        "id long, v string, amt double",
    ).createOrReplaceTempView("m_star")
    n = txtable_sql(
        spark,
        f"MERGE INTO txtable.`{root}` AS t2 USING m_star AS s2 "
        "ON t2.id = s2.id "
        "WHEN MATCHED AND s2.amt > 100 THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s2.amt > 0 THEN INSERT *",
    )
    assert n == 2
    st = _state(spark, root)
    assert st[1] == ("upd", 111.0) and st[8] == ("new", 888.0)
    assert st[2] == ("b", 20.0)


def test_not_matched_by_source_conditional_delete(spark, tmp_path):
    root = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, "a", 10.0)], "id long, v string, amt double"
    )
    res = txlog_merge(
        spark,
        src,
        root,
        matched=[MatchedClause("update")],
        not_matched_by_source_delete="t.amt >= 30",
    )
    assert res.rows_deleted == 2  # ids 3, 4
    assert sorted(_state(spark, root)) == [1, 2]


def test_merge_counts_and_version(spark, tmp_path):
    root = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, "u", 0.0), (2, "u", 0.0), (99, "n", 1.0)],
        "id long, v string, amt double",
    )
    res = txlog_merge(
        spark,
        src,
        root,
        matched=[MatchedClause("update", assignments={"v": "s.v"})],
        not_matched=[NotMatchedClause()],
    )
    assert (res.rows_updated, res.rows_inserted, res.rows_deleted) == (
        2,
        1,
        0,
    )
    assert res.version == 1
    assert res.rows_affected == 3


def test_merge_untouched_buckets_carry_without_rewrite(spark, tmp_path):
    root = _mk(spark, tmp_path)
    before = _latest_manifest(spark, root)["buckets"]
    src = spark.createDataFrame(
        [(1, "u", 1.0)], "id long, v string, amt double"
    )
    txlog_merge(
        spark,
        src,
        root,
        matched=[MatchedClause("update", assignments={"amt": "s.amt"})],
    )
    after = _latest_manifest(spark, root)["buckets"]
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1  # only id=1's bucket rewrote


def test_merge_generated_columns_recompute_and_direct_set_refuses(
    spark, tmp_path
):
    root = str(tmp_path / "g")
    txlog_upsert(
        spark,
        spark.createDataFrame(
            [(1, 2.0, 4.0)], "id long, a double, d double"
        ),
        root,
        key="id",
        num_buckets=2,
        generated_columns={"d": "a * 2"},
    )
    src = spark.createDataFrame([(1, 10.0)], "id long, a double")
    txlog_merge(
        spark,
        src,
        root,
        matched=[MatchedClause("update", assignments={"a": "s.a"})],
    )
    row = read_txtable(spark, root).collect()[0]
    assert (row.a, row.d) == (10.0, 20.0)  # generated recomputed
    with pytest.raises(ValueError, match="generated"):
        txlog_merge(
            spark,
            src,
            root,
            matched=[MatchedClause("update", assignments={"d": "99.0"})],
        )


def test_merge_constraints_gate_the_result(spark, tmp_path):
    root = _mk(spark, tmp_path)
    set_table_constraint(spark, root, "amt_pos", "amt > 0")
    src = spark.createDataFrame(
        [(1, "x", 1.0)], "id long, v string, amt double"
    )
    with pytest.raises(ConstraintViolationError):
        txlog_merge(
            spark,
            src,
            root,
            matched=[MatchedClause("update", assignments={"amt": "-1.0"})],
        )


def test_merge_cdc_reports_every_action(spark, tmp_path):
    root = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, "u", 1.0), (2, "x", -1.0), (7, "n", 7.0)],
        "id long, v string, amt double",
    )
    txlog_merge(
        spark,
        src,
        root,
        matched=[
            MatchedClause("delete", condition="s.amt < 0"),
            MatchedClause("update", assignments={"v": "s.v"}),
        ],
        not_matched=[NotMatchedClause()],
    )
    ops = {
        (r.id, r["_change_type"])
        for r in txtable_changes(spark, root, from_version=0).collect()
    }
    assert ops == {(1, "update"), (2, "delete"), (7, "insert")}


def test_merge_refusals(spark, tmp_path):
    root = _mk(spark, tmp_path)
    spark.createDataFrame(
        [(1, "x", 1.0)], "id long, v string, amt double"
    ).createOrReplaceTempView("m_ref")
    with pytest.raises(UnsupportedSqlError, match="key equality"):
        txtable_sql(
            spark,
            f"MERGE INTO txtable.`{root}` AS t3 USING m_ref AS s3 "
            "ON t3.id < s3.id WHEN MATCHED THEN DELETE",
        )
    with pytest.raises(UnsupportedSqlError, match="clause"):
        txtable_sql(
            spark,
            f"MERGE INTO txtable.`{root}` AS t3 USING m_ref AS s3 "
            "ON t3.id = s3.id WHEN MATCHED THEN FROB EVERYTHING",
        )
    # ON column that differs from the table key refuses loudly
    src = spark.createDataFrame(
        [(1, "x", 1.0)], "id long, v string, amt double"
    )
    with pytest.raises(ValueError, match="keyed on"):
        txlog_merge(
            spark,
            src,
            root,
            matched=[MatchedClause("update")],
            on_key="v",
        )


def test_history_operation_audit_trail(spark, tmp_path):
    """Every verb stamps its operation into the manifest; DESCRIBE
    HISTORY's audit trail names what produced each version (Delta's
    operation column)."""
    import glob as _glob
    import os
    import shutil

    from data_pipeline_demo_spark.sinks.copy_into import copy_into
    from data_pipeline_demo_spark.sinks.txlog import (
        compact_txtable,
        deep_clone_txtable,
        restore_txtable,
        truncate_txtable,
        txlog_add_column,
        txlog_delete,
        txlog_update,
        txtable_history,
    )

    root = _mk(spark, tmp_path)  # v0 CREATE
    src = spark.createDataFrame(
        [(1, "u", 1.0)], "id long, v string, amt double"
    )
    txlog_merge(
        spark, src, root,
        matched=[MatchedClause("update", assignments={"v": "s.v"})],
    )                                                   # v1 MERGE
    txlog_update(spark, root, set={"v": "'x'"}, where="id = 2")  # v2
    txlog_delete(spark, root, where="id = 3")           # v3 DELETE
    txtable_sql(
        spark, f"INSERT INTO txtable.`{root}` VALUES (7, 'p', 7.0)"
    )                                                   # v4 APPEND
    land = str(tmp_path / "land")
    os.makedirs(land)
    tmpd = os.path.join(land, "__t")
    spark.createDataFrame(
        [(50, "c", 5.0)], "id long, v string, amt double"
    ).coalesce(1).write.parquet(tmpd)
    [part] = _glob.glob(os.path.join(tmpd, "*.parquet"))
    shutil.move(part, os.path.join(land, "a.parquet"))
    shutil.rmtree(tmpd)
    copy_into(spark, root, land, "parquet")             # v5 COPY INTO
    txlog_add_column(spark, root, "w", "double")        # v6 ALTER
    compact_txtable(spark, root, min_files=1)           # v7 OPTIMIZE
    truncate_txtable(spark, root)                       # v8 TRUNCATE
    restore_txtable(spark, root, version=5)             # v9 RESTORE
    ops = [h["operation"] for h in txtable_history(spark, root)]
    assert ops == [
        "CREATE", "MERGE", "UPDATE", "DELETE", "APPEND", "COPY INTO",
        "ALTER", "OPTIMIZE", "TRUNCATE", "RESTORE",
    ]
    # deep clone: one CLONE commit, the COPY history carried in it
    clone = str(tmp_path / "dclone")
    deep_clone_txtable(spark, root, clone)
    cops = [h["operation"] for h in txtable_history(spark, clone)]
    assert cops == ["CLONE"]
    rc = copy_into(spark, clone, land, "parquet")
    assert rc["num_loaded_files"] == 0  # history traveled with content


def test_merge_with_schema_evolution(spark, tmp_path):
    """Delta's MERGE WITH SCHEMA EVOLUTION: source columns the table
    lacks append to the schema (old rows read NULL); without the
    keyword, SET */INSERT * ignore them and an explicit assignment to
    an unknown column raises with guidance."""
    root = _mk(spark, tmp_path)
    spark.createDataFrame(
        [(1, "u", 1.0, "extra1"), (8, "n", 8.0, "extra8")],
        "id long, v string, amt double, note string",
    ).createOrReplaceTempView("m_evo")
    # without evolution the canonical path's schema enforcement refuses
    # the extra source column (Delta without autoMerge does too)
    with pytest.raises(ValueError, match="evolve_schema"):
        txtable_sql(
            spark,
            f"MERGE INTO txtable.`{root}` AS t USING m_evo AS s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        )
    # explicit assignment to unknown column refuses with guidance
    with pytest.raises(ValueError, match="SCHEMA EVOLUTION"):
        txtable_sql(
            spark,
            f"MERGE INTO txtable.`{root}` AS t USING m_evo AS s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET note = s.note",
        )
    # with evolution: the column appends; untouched rows read NULL
    n = txtable_sql(
        spark,
        f"MERGE WITH SCHEMA EVOLUTION INTO txtable.`{root}` AS t "
        "USING m_evo AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    assert n == 2
    rows = {r.id: r.note for r in read_txtable(spark, root).collect()}
    assert rows[1] == "extra1" and rows[8] == "extra8"
    assert rows[2] is None and rows[3] is None  # untouched: NULL
    # the schema evolved in the manifest, not just this read
    assert "note" in [
        f["name"] for f in _latest_manifest(spark, root)["schema"]
    ]


# ---------------------------------------------------------------------------
# hypothesis MODEL check: random clause sets vs a pure-python replay


def _model_merge(target, source, matched, not_matched, nmbs):
    """Reference semantics in plain python dicts: first satisfied
    clause acts, untouched rows keep, unclaimed source rows drop.
    target/source: {id: v}."""

    def holds(cond, t_v, s_v):
        if cond is None:
            return True
        if cond == "s_even":
            return s_v is not None and s_v % 2 == 0
        if cond == "t_big":
            return t_v is not None and t_v > 5
        raise AssertionError(cond)

    out = {}
    for k, tv in target.items():
        if k in source:
            sv = source[k]
            acted = False
            for cl in matched:
                if holds(cl["cond"], tv, sv):
                    if cl["action"] == "delete":
                        acted = True
                    else:
                        out[k] = (
                            sv if cl["set"] == "sv" else tv + sv
                            if cl["set"] == "sum" else 99
                        )
                        acted = True
                    break
            if not acted:
                out[k] = tv
        else:
            if nmbs == "all" or (nmbs == "t_small" and tv < 3):
                continue
            out[k] = tv
    for k, sv in source.items():
        if k in target:
            continue
        for cl in not_matched:
            if holds(cl["cond"], None, sv):
                out[k] = sv if cl["ins"] == "sv" else sv * 10
                break
    return out


def test_hypothesis_merge_model(spark, tmp_path):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    cond = st.sampled_from([None, "s_even", "t_big"])
    m_clause = st.fixed_dictionaries(
        {
            "action": st.sampled_from(["update", "delete"]),
            "cond": cond,
            "set": st.sampled_from(["sv", "sum", "const"]),
        }
    )
    nm_clause = st.fixed_dictionaries(
        {"cond": cond, "ins": st.sampled_from(["sv", "x10"])}
    )

    case = st.fixed_dictionaries(
        {
            "target": st.dictionaries(
                st.integers(0, 12), st.integers(0, 9), max_size=8
            ),
            "source": st.dictionaries(
                st.integers(0, 12), st.integers(0, 9), max_size=8
            ),
            "matched": st.lists(m_clause, max_size=2),
            "not_matched": st.lists(nm_clause, max_size=1),
            "nmbs": st.sampled_from([False, "all", "t_small"]),
        }
    )

    COND_SQL = {None: None, "s_even": "s.v % 2 = 0", "t_big": "t.v > 5"}
    SET_SQL = {"sv": "s.v", "sum": "t.v + s.v", "const": "99"}
    INS_SQL = {"sv": "s.v", "x10": "s.v * 10"}
    counter = [0]

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(case)
    def run(c):
        counter[0] += 1
        root = str(tmp_path / f"h{counter[0]}")
        txlog_upsert(
            spark,
            spark.createDataFrame(
                [(k, v) for k, v in c["target"].items()] or [(None, None)],
                "id long, v long",
            ).filter("id IS NOT NULL"),
            root,
            key="id",
            num_buckets=4,
        )
        src = spark.createDataFrame(
            [(k, v) for k, v in c["source"].items()] or [(None, None)],
            "id long, v long",
        ).filter("id IS NOT NULL")
        matched = [
            MatchedClause(
                cl["action"],
                condition=COND_SQL[cl["cond"]],
                assignments=(
                    {"v": SET_SQL[cl["set"]]}
                    if cl["action"] == "update"
                    else None
                ),
            )
            for cl in c["matched"]
        ]
        not_matched = [
            NotMatchedClause(
                condition=COND_SQL[cl["cond"]],
                columns=["id", "v"],
                values=["s.id", INS_SQL[cl["ins"]]],
            )
            for cl in c["not_matched"]
        ]
        nmbs = {False: False, "all": True, "t_small": "t.v < 3"}[c["nmbs"]]
        txlog_merge(
            spark,
            src,
            root,
            matched=matched,
            not_matched=not_matched,
            not_matched_by_source_delete=nmbs,
        )
        got = {r.id: r.v for r in read_txtable(spark, root).collect()}
        want = _model_merge(
            c["target"], c["source"], c["matched"], c["not_matched"],
            c["nmbs"],
        )
        assert got == want, (c, got, want)

    run()


def test_merge_case_expressions_inside_clauses(spark, tmp_path):
    """Adversarial-probe regression: CASE WHEN ... THEN ... END inside
    SET values and clause conditions must not terminate the clause
    scanner (its WHEN/THEN are expression tokens, not clause
    boundaries)."""
    root = _mk(spark, tmp_path)
    spark.createDataFrame(
        [(1, 3.0), (2, 100.0), (9, 9.0)], "id long, bump double"
    ).createOrReplaceTempView("m_case")
    n = txtable_sql(
        spark,
        f"MERGE INTO txtable.`{root}` AS t USING "
        "(SELECT id, bump FROM m_case) AS s ON t.id = s.id "
        "WHEN MATCHED AND CASE WHEN s.bump > 50 THEN false ELSE true END "
        "THEN UPDATE SET "
        "amt = CASE WHEN t.amt > 5 THEN t.amt + s.bump ELSE 0 END, "
        "v = upper(concat(t.v, '!')) "
        "WHEN NOT MATCHED THEN INSERT (id, v, amt) VALUES "
        "(s.id, 'new', CASE WHEN s.bump > 5 THEN s.bump ELSE -1 END)",
    )
    assert n == 2  # id=1 updated (cond true), id=2 skipped, id=9 inserted
    st = _state(spark, root)
    assert st[1] == ("A!", 13.0)
    assert st[2] == ("b", 20.0)     # CASE condition evaluated false
    assert st[9] == ("new", 9.0)    # CASE inside INSERT VALUES


def test_merge_key_reassignment_refused(spark, tmp_path):
    """Round-11 advisor HIGH: UPDATE SET <key> = expr would recompute
    BUCKET_COL into buckets outside the touched set — rows written but
    never published, silently vanishing (reproduced upstream as 20 rows
    → 19 with rows_updated=1 reported). The key is immutable; refuse."""
    root = _mk(
        spark,
        tmp_path,
        rows=[(i, f"r{i}", float(i)) for i in range(20)],
    )
    src = spark.createDataFrame([(1, "x", 1.5)], "id long, v string, amt double")
    with pytest.raises(ValueError, match="reassign the table key"):
        txlog_merge(
            spark,
            src,
            root,
            matched=[
                MatchedClause("update", assignments={"id": "t.id + 100"})
            ],
        )
    # nothing committed, nothing lost
    assert len(_state(spark, root)) == 20

    # INSERT with a computed key value is the same hazard
    with pytest.raises(ValueError, match="key from the source"):
        txlog_merge(
            spark,
            spark.createDataFrame(
                [(99, "n", 9.0)], "id long, v string, amt double"
            ),
            root,
            not_matched=[
                NotMatchedClause(
                    columns=["id", "v", "amt"],
                    values=["s.id + 1000", "s.v", "s.amt"],
                )
            ],
        )
    assert len(_state(spark, root)) == 20

    # the no-op forms stay allowed: s.<key> / t.<key> are identical
    # under the ON match, and INSERT taking the bare source key is the
    # documented contract
    res = txlog_merge(
        spark,
        spark.createDataFrame(
            [(1, "upd", 1.5), (99, "new", 9.0)],
            "id long, v string, amt double",
        ),
        root,
        matched=[
            MatchedClause(
                "update", assignments={"id": "s.id", "v": "s.v"}
            )
        ],
        not_matched=[
            NotMatchedClause(
                columns=["id", "v", "amt"],
                values=["s.id", "s.v", "s.amt"],
            )
        ],
    )
    assert res.rows_updated == 1 and res.rows_inserted == 1
    st = _state(spark, root)
    assert st[1][0] == "upd" and st[99] == ("new", 9.0)


def test_merge_duplicate_source_keys_refused(spark, tmp_path):
    """Round-11 advisor: duplicate source keys made conditional clause
    outcomes nondeterministic (which duplicate survived the collapse was
    arbitrary). Delta raises 'multiple source rows matched'; so do we."""
    root = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0), (5, "n", 5.0)],
        "id long, v string, amt double",
    )
    with pytest.raises(ValueError, match="duplicate values of the key"):
        txlog_merge(
            spark,
            src,
            root,
            matched=[MatchedClause("update")],
            not_matched=[NotMatchedClause()],
        )
    # nothing committed
    assert _latest_manifest(spark, root)["version"] == 0
    st = _state(spark, root)
    assert st[1] == ("a", 10.0) and 5 not in st


def test_merge_source_key_type_upcasts_before_bucketing(spark, tmp_path):
    """Found by round-11 adversarial probing: an int-typed source key
    against a long-keyed table hashed into the WRONG buckets (xxhash64
    of int32 != int64), so the merge silently matched nothing. Lossless
    upcasts now cast up before bucketing; lossy mismatches refuse."""
    root = _mk(spark, tmp_path)
    src = spark.sql(
        "SELECT CAST(2 AS INT) AS id, 'upd' AS v, 2.5 AS amt"
    )
    res = txlog_merge(spark, src, root, matched=[MatchedClause("update")])
    assert res.rows_updated == 1
    assert _state(spark, root)[2] == ("upd", 2.5)
    with pytest.raises(ValueError, match="key.*is.*string"):
        txlog_merge(
            spark,
            spark.sql("SELECT '3' AS id, 'x' AS v, 1.0 AS amt"),
            root,
            matched=[MatchedClause("update")],
        )
