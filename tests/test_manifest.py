"""The txtable manifest format (``sinks/manifest.py``): one builder for
every commit, and the carry-forward contract of each write verb."""

from __future__ import annotations

import ast
import json
import os
import sys
from collections import Counter
from pathlib import Path

import pytest

from data_pipeline_demo_spark.sinks.manifest import (
    FEATURE_DV,
    FEATURE_SHARDS,
    UnsupportedTableFeatureError,
    append_files,
    changed_buckets,
    check_features,
    check_format,
    check_no_rename,
    commit_rel,
    deflate,
    inflate,
    mapping_of,
    next_manifest,
    scan_files,
    version_at_timestamp,
    versions_in,
)

PKG = Path(__file__).resolve().parents[1] / "data_pipeline_demo_spark"
sys.path.insert(0, str(PKG.parent / "tools"))


def _stamping_dicts(root: Path) -> list[str]:
    """Dict displays that stamp a commit time: a ``"committed_at_ms"``
    key whose value is not a ``.get(...)`` read of a recorded manifest
    (history and DESCRIBE rows copy the recorded stamp through)."""
    out = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Dict):
                continue
            for k, v in zip(node.keys, node.values):
                if not (isinstance(k, ast.Constant) and k.value == "committed_at_ms"):
                    continue
                reads = (
                    isinstance(v, ast.Call)
                    and isinstance(v.func, ast.Attribute)
                    and v.func.attr == "get"
                )
                if not reads:
                    out.append(f"{path.relative_to(root)}:{node.lineno}")
    return out


def _layout_literals(root: Path) -> list[str]:
    """String constants that spell the commit log's layout: the
    ``_commits`` directory or a ``020d`` version file name (an f-string
    format spec or a ``format`` argument). Docstrings are prose and do
    not count."""
    out = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        prose = {
            id(node.value)
            for node in ast.walk(tree)
            if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in prose
                and ("_commits" in node.value or "020d" in node.value)
            ):
                out.append(f"{path.relative_to(root)}:{node.lineno}")
    return out


def test_only_the_manifest_module_assembles_manifests():
    """Guard: every commit builds its manifest through
    ``next_manifest``. A hand-built commit dict elsewhere in the
    package re-implements the carry rules — and drifts."""
    hits = [
        h for h in _stamping_dicts(PKG) if not h.startswith("sinks/manifest.py")
    ]
    assert hits == [], f"hand-built commit dicts: {hits}"
    # the log's file layout has one owner too: every other module names
    # log files through commit_rel / COMMITS_DIR
    hits = [
        h for h in _layout_literals(PKG) if not h.startswith("sinks/manifest.py")
    ]
    assert hits == [], f"log layout spelled outside sinks/manifest.py: {hits}"


def _mentions(node, *constants) -> bool:
    found = {
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and n.value in constants
    }
    return found == set(constants)


# A read-planning concern and the module that alone may define it.
_PLANNER = {
    "changed-bucket signature": "sinks/manifest.py",
    "commit-time comparison": "sinks/manifest.py",
    "physical-name derivation": "sinks/manifest.py",
    "bucket-pruning probe": "sources/pushdown.py",
}


def _planning_sites(root: Path) -> list[tuple[str, str]]:
    """``(concern, path:line)`` for each spot that decides a read-planning
    concern:

    - a tuple pairing a bucket's file list with its deletion-vector
      list (the changed-bucket signature);
    - a comparison against ``committed_at_ms`` (timestamp resolution),
      except vacuum's retention cutoff, a different concern;
    - a read of a schema field's ``"physical"`` metadata;
    - a direct call of the zone-map or Bloom probe."""
    out = []
    probes = {"zone_maps_overlap", "bloom_might_contain", "_bloom_might_contain"}
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        exempt = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "vacuum_txtable"
            for n in ast.walk(f)
        }
        rel = str(path.relative_to(root))
        for node in ast.walk(tree):
            concern = None
            if isinstance(node, ast.Tuple) and _mentions(node, "buckets", "bucket_dvs"):
                concern = "changed-bucket signature"
            elif (
                isinstance(node, ast.Compare)
                and id(node) not in exempt
                and _mentions(node, "committed_at_ms")
            ):
                concern = "commit-time comparison"
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get"
                and node.args
                and _mentions(node.args[0], "physical")
            ) or (
                isinstance(node, ast.Subscript)
                and isinstance(node.ctx, ast.Load)
                and _mentions(node.slice, "physical")
            ):
                concern = "physical-name derivation"
            elif isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) in probes
                or getattr(node.func, "attr", None) in probes
            ):
                concern = "bucket-pruning probe"
            if concern is not None:
                out.append((concern, f"{rel}:{node.lineno}"))
    return out


def test_each_read_planning_concern_is_defined_once():
    """Guard: both txtable readers (the JVM ``read_txtable`` /
    ``txtable_changes`` and the Arrow ``format("txtable")``) plan
    through one module per concern. A second copy elsewhere in the
    package drifts (the copies of the timestamp rule disagreed on
    non-monotonic commit times)."""
    stray = [
        (c, where)
        for c, where in _planning_sites(PKG)
        if not where.startswith(_PLANNER[c] + ":")
    ]
    assert stray == [], f"read planning outside its planner module: {stray}"


def _older_format_sites(root: Path) -> list[tuple[str, str]]:
    """``(what, path:line)`` for each spot that serves a manifest outside
    the one format :func:`check_format` admits:

    - a ``mergeSchema`` read option (snapshot files read under the
      recorded schema; COPY INTO's copy option is parsed as a quoted SQL
      literal, never passed to a reader);
    - a ``"copy_files"`` constant or keyword (COPY history lives in
      sidecars);
    - a ``.get("committed_at_ms", default)`` (every commit is stamped);
    - a function that reads parquet footer schemas to build a read
      schema (``read_schema`` / ``parquet_schema``)."""
    out = []
    footer = {"read_schema", "parquet_schema"}
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = str(path.relative_to(root))
        for node in ast.walk(tree):
            what = None
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "option"
                and node.args
                and _mentions(node.args[0], "mergeSchema")
            ):
                what = "mergeSchema read"
            elif (isinstance(node, ast.Constant) and node.value == "copy_files") or (
                isinstance(node, ast.keyword) and node.arg == "copy_files"
            ):
                what = "embedded copy_files"
            elif (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "get"
                and len(node.args) == 2
                and _mentions(node.args[0], "committed_at_ms")
            ):
                what = "defaulted committed_at_ms"
            elif isinstance(node, ast.FunctionDef) and (
                node.name in footer
                or any(
                    getattr(n, "attr", None) in footer
                    for n in ast.walk(node)
                    if isinstance(n, ast.Attribute)
                )
            ):
                what = "footer-union schema"
            if what is not None:
                out.append((what, f"{rel}:{node.lineno}"))
    return out


def test_one_manifest_format_has_no_second_path():
    """Guard: every manifest a reader accepts records its schema and
    commit stamp and keeps COPY history in sidecars
    (``check_format``), so no reader or writer keeps a path for the
    older shapes: no ``mergeSchema`` footer sweep, no embedded
    ``copy_files`` outside the gate, no default for a missing
    ``committed_at_ms``, no schema unioned from file footers."""
    stray = [
        (what, where)
        for what, where in _older_format_sites(PKG)
        if not (what == "embedded copy_files" and where.startswith("sinks/manifest.py:"))
    ]
    assert stray == [], f"older-manifest paths: {stray}"


def _field(name: str, type_: str = "long") -> dict:
    return {"name": name, "type": type_, "nullable": True, "metadata": {}}


def test_creating_commits_state_a_schema():
    """A creating commit without a schema is refused when it is built,
    so no writer publishes a manifest the gate refuses; the commits that
    tools/manifest_soak.py assembles by hand pass the gate."""
    import manifest_soak

    with pytest.raises(ValueError, match="schema"):
        next_manifest(None, "CREATE", key="id", num_buckets=2)
    for sharded in (False, True):
        buckets = manifest_soak._fabricate_buckets(manifest_soak.NUM_BUCKETS)
        check_format(manifest_soak._base_manifest(buckets, sharded))


def test_check_format_refuses_older_manifests():
    good = next_manifest(None, "CREATE", key="id", num_buckets=2, schema=[_field("id")])
    check_format(good)
    for forged, field in (
        ({k: v for k, v in good.items() if k != "schema"}, "schema"),
        ({k: v for k, v in good.items() if k != "committed_at_ms"}, "committed_at_ms"),
        ({**good, "copy_files": {"f.parquet": [1, 2, 0]}}, "copy_files"),
    ):
        with pytest.raises(UnsupportedTableFeatureError, match=field) as e:
            check_format(forged)
        # never a ValueError: readers quarantine a manifest on ValueError
        assert not isinstance(e.value, ValueError)


def test_check_format_refuses_a_manifest_without_properties_or_constraints():
    """Table properties and CHECK constraints are manifest fields, written
    as ``{}`` when empty; a manifest without either field predates them
    (its table kept them in sidecar logs this engine no longer reads)."""
    good = next_manifest(None, "CREATE", key="id", num_buckets=2, schema=[_field("id")])
    assert good["properties"] == {} and good["constraints"] == {}
    for field in ("properties", "constraints"):
        with pytest.raises(UnsupportedTableFeatureError, match=f"no {field}"):
            check_format({k: v for k, v in good.items() if k != field})


def test_layout_helpers():
    assert commit_rel(7) == "_commits/00000000000000000007.json"
    names = [
        commit_rel(v).split("/")[1] for v in (3, 1, 12)
    ] + [".tmp-abc", ".quarantine-00000000000000000004.json", "x.json",
         "_manifest_shards", "5.json"]
    assert versions_in(names) == [1, 3, 5, 12]
    fields = [
        {"name": "a", "metadata": {}},
        {"name": "b", "metadata": {"physical": "col-1"}},
        {"name": "c", "metadata": {"physical": "c"}},
        {"name": "d"},
    ]
    assert mapping_of(fields) == {"b": "col-1"}


def test_check_features_refuses_unknown_tokens():
    check_features({"requires": [FEATURE_DV]}, {FEATURE_DV}, "read")
    check_features({}, frozenset(), "read")
    with pytest.raises(UnsupportedTableFeatureError, match="quantum"):
        check_features({"version": 3, "requires": ["quantum"]}, {FEATURE_DV})
    # one error type for every caller: the JVM verbs caught RuntimeError,
    # the python DataSource and writer NotImplementedError
    assert issubclass(UnsupportedTableFeatureError, NotImplementedError)
    assert issubclass(UnsupportedTableFeatureError, RuntimeError)


# ---------------------------------------------------------------------------
# Append algebra: one table per rule. Each case appends ``entries`` to
# ``prev`` (stats column "x", bloom column "s") and pins the bucket-0
# bookkeeping that comes out; ``absent`` marks a field with no entry
# for the bucket.
# ---------------------------------------------------------------------------

_PREV = {
    "buckets": {"0": ["old.parquet"]},
    "row_counts": {"0": 5},
    "bucket_stats": {"0": {"x": [10, 20]}},
    "bucket_nulls": {"0": {"x": 1}},
    "bucket_blooms": {"0": {"s": {"0": "00000000000000f0"}}},
}
absent = object()


def _without(field):
    return {k: v for k, v in _PREV.items() if k != field}


# case: (prev, entries, decimal_columns, {field: bucket-0 value})
_APPEND_CASES = {
    "counts sum": (
        _PREV,
        [("0", ["a"], 3, {"x": [11, 12]}, {}, {"x": 2}),
         ("0", ["b"], 4, {"x": [11, 12]}, {}, {"x": 0})],
        (),
        {"buckets": ["old.parquet", "a", "b"], "row_counts": 12,
         "bucket_nulls": {"x": 3}},
    ),
    "all-null append keeps the old bounds exact": (
        _PREV,
        [("0", ["a"], 3, {}, {}, {"x": 3})],
        (),
        {"bucket_stats": {"x": [10, 20]}, "bucket_nulls": {"x": 4}},
    ),
    "[None, None] means no range": (
        _PREV,
        [("0", ["a"], 3, {"x": [None, None]}, {}, {"x": 3})],
        (),
        {"bucket_stats": {"x": [10, 20]}},
    ),
    "[None, None] in a new bucket records no range": (
        None,
        [("0", ["a"], 3, {"x": [None, None]}, {}, {"x": 3})],
        (),
        {"bucket_stats": absent, "bucket_nulls": {"x": 3}},
    ),
    "bounds widen": (
        _PREV,
        [("0", ["a"], 3, {"x": [2, 15]}, {}, {"x": 0})],
        (),
        {"bucket_stats": {"x": [2, 20]}},
    ),
    "an unknown range drops the column": (
        _PREV,
        [("0", ["a"], 3, {"x": None}, {}, {"x": 0})],
        (),
        {"bucket_stats": absent},
    ),
    "prior files with no stats stay stat-less": (
        _without("bucket_stats"),
        [("0", ["a"], 3, {"x": [1, 2]}, {}, {"x": 0})],
        (),
        {"bucket_stats": absent},
    ),
    "a column missing from the null counts is all null": (
        _PREV,
        [("0", ["a"], 3, {}, {}, {})],
        (),
        {"bucket_nulls": {"x": 4}, "bucket_stats": {"x": [10, 20]}},
    ),
    "prior files with no null counts stay count-less": (
        _without("bucket_nulls"),
        [("0", ["a"], 3, {"x": [1, 2]}, {}, {"x": 0})],
        (),
        {"bucket_nulls": absent},
    ),
    "decimal bounds widen by value": (
        {**_PREV, "bucket_stats": {"0": {"x": ["1.0", "9.5"]}}},
        [("0", ["a"], 3, {"x": ["2.0", "12.0"]}, {}, {"x": 0})],
        ("x",),
        {"bucket_stats": {"x": ["1.0", "12.0"]}},
    ),
    "decimal-shaped strings without a type widen lexically": (
        {**_PREV, "bucket_stats": {"0": {"x": ["1.0", "9.5"]}}},
        [("0", ["a"], 3, {"x": ["2.0", "12.0"]}, {}, {"x": 0})],
        (),
        {"bucket_stats": {"x": ["1.0", "9.5"]}},
    ),
    "bloom words OR": (
        _PREV,
        [("0", ["a"], 3, {}, {"s": {"0": "000000000000000f", "3": "01"}}, {})],
        (),
        {"bucket_blooms": {"s": {"0": "00000000000000ff",
                                 "3": "0000000000000001"}}},
    ),
    "a column with no words stores an empty word map": (
        None,
        [("0", ["a"], 3, {}, {}, {})],
        (),
        {"bucket_blooms": {"s": {}}},
    ),
    "a lost filter stays lost": (
        _without("bucket_blooms"),
        [("0", ["a"], 3, {}, {"s": {"0": "01"}}, {})],
        (),
        {"bucket_blooms": absent},
    ),
    "blooms=None pops the filter": (
        _PREV,
        [("0", ["a"], 3, {}, None, {})],
        (),
        {"bucket_blooms": absent},
    ),
}


@pytest.mark.parametrize("case", list(_APPEND_CASES))
def test_append_files(case):
    prev, entries, dec, want = _APPEND_CASES[case]
    got = append_files(prev, entries, ["x"], ["s"], set(dec))
    assert set(got) == {
        "buckets", "row_counts", "bucket_stats", "bucket_blooms", "bucket_nulls"
    }
    for field, value in want.items():
        assert got[field].get("0", absent) == value, field


def test_append_files_leaves_prev_and_other_buckets_alone():
    import copy

    prev = {**copy.deepcopy(_PREV), "buckets": {"0": ["old"], "1": ["one"]},
            "row_counts": {"0": 5, "1": 2}}
    snapshot = copy.deepcopy(prev)
    got = append_files(prev, [(2, ["new"], 1, {"x": [0, 0]}, {}, {"x": 0})],
                       ["x"], ["s"])
    assert prev == snapshot
    assert got["buckets"] == {"0": ["old"], "1": ["one"], "2": ["new"]}
    assert got["row_counts"] == {"0": 5, "1": 2, "2": 1}
    assert got["bucket_stats"]["2"] == {"x": [0, 0]}
    # no declared columns: only files and counts move
    got = append_files(prev, [(0, ["new"], 1, {"x": [0, 0]}, {}, {})], [], [])
    assert got["bucket_stats"] == prev["bucket_stats"]
    assert got["bucket_blooms"] == prev["bucket_blooms"]


def test_next_manifest_carries_and_resets():
    base = {
        "version": 4,
        "key": "id",
        "num_buckets": 2,
        "schema": [_field("id"), _field("i")],
        "buckets": {"0": ["a"], "1": ["b"]},
        "row_counts": {"0": 1, "1": 1},
        "bucket_dvs": {"0": ["dv0"], "1": ["dv1"]},
        "dv_counts": {"0": 1, "1": 1},
        "requires": [FEATURE_DV],
        "identity_columns": {"i": {"start": 1, "step": 1, "always": True}},
        "identity_high_water": {"i": 7},
        "copy_log": {"head": "copylog/x.json", "count": 1},
        "manifest_shards": {"0": "s.json"},
        "restored_from_version": 1,
        "operation": "RESTORE",
        "committed_at_ms": 1,
    }
    m = next_manifest(base, "DELETE", bucket_dvs={"1": ["dv1"]})
    assert m["version"] == 5 and m["operation"] == "DELETE"
    assert m["committed_at_ms"] > 1
    # per-commit fields never carry
    assert "restored_from_version" not in m and "manifest_shards" not in m
    # counts follow the surviving vectors; requires is derived
    assert m["bucket_dvs"] == {"1": ["dv1"]} and m["dv_counts"] == {"1": 1}
    assert m["requires"] == [FEATURE_DV]
    assert m["identity_high_water"] == {"i": 7}
    assert m["copy_log"] == base["copy_log"]
    # defaults for absent required fields; None and empties drop
    assert m["bloom_bits"] == 1024 and m["app_txns"] == {}
    m = next_manifest(base, "TRUNCATE", bucket_dvs=None, identity_columns={})
    for gone in ("bucket_dvs", "dv_counts", "requires", "identity_columns",
                 "identity_high_water"):
        assert gone not in m
    with pytest.raises(ValueError, match="num_buckets"):
        next_manifest(None, "CREATE", key="id")


def test_deflate_reuses_unchanged_shards_and_inflate_restores():
    written: dict[str, dict] = {}

    def write(rel, payload):
        written[rel] = payload

    v0 = next_manifest(
        None,
        "CREATE",
        key="id",
        num_buckets=4,
        schema=[_field("id")],
        buckets={"0": ["a"], "1": ["b"], "2": ["c"]},
        manifest_sharding={"groups": 2},
    )
    root0 = deflate(dict(v0), None, write)
    assert "buckets" not in root0 and root0["requires"] == [FEATURE_SHARDS]
    prev = inflate(dict(root0), written.__getitem__)
    assert prev["buckets"] == v0["buckets"] and "requires" not in prev
    root1 = deflate(
        next_manifest(prev, "MERGE", buckets={**prev["buckets"], "1": ["b2"]}),
        prev,
        write,
    )
    # group 0 (buckets 0, 2) is unchanged: its shard is reused
    assert root1["manifest_shards"]["0"] == root0["manifest_shards"]["0"]
    assert root1["manifest_shards"]["1"] != root0["manifest_shards"]["1"]
    with pytest.raises(RuntimeError, match="corrupt manifest shard"):
        inflate(dict(root1), lambda rel: (_ for _ in ()).throw(ValueError()))


# ---------------------------------------------------------------------------
# Carry matrix: which table state each verb keeps, sets, changes or
# resets. A changed cell is a change to the table format's contract.
# ---------------------------------------------------------------------------

# tracked field -> the manifest keys that make it up
TRACKED = {
    "identity_hwm": ("identity_high_water",),
    "copy_history": ("copy_log",),
    "generated": ("generated_columns",),
    "defaults": ("column_defaults",),
    "app_txns": ("app_txns",),
    "dvs": ("bucket_dvs", "dv_counts"),
    "sharding": ("manifest_sharding",),
    "props": ("properties",),
    "constraints": ("constraints",),
}


def _status(before: dict | None, after: dict, keys) -> str:
    b = tuple((before or {}).get(k) or None for k in keys)
    a = tuple(after.get(k) or None for k in keys)
    if not any(a):
        return "reset" if any(b) else "-"
    if not any(b):
        return "set"
    return "keep" if a == b else "change"


def carry_matrix(steps) -> dict[str, dict[str, str]]:
    return {
        verb: {f: _status(before, after, keys) for f, keys in TRACKED.items()}
        for verb, before, after in steps
    }


# Both remove every row, yet TRUNCATE keeps the COPY history (a
# truncated table does not re-load its landing files) while OVERWRITE
# drops it with the replaced snapshot; REPLACE drops it too, as a new
# table definition. The asymmetry is the existing contract, kept as is.
# Table properties and constraints ride every data verb and RESTORE,
# carry into clones, and reset on REPLACE; the metadata verbs run last
# in the scenario, so no data step pays for a constraint check.
_EXPECTED_ROWS = {
    # verb                   hwm       copy      gen       defaults  app       dvs       sharding  props     constraints
    "CREATE":                ("set",    "-",      "set",    "set",    "set",    "-",      "set",    "set",    "-"),
    "COPY INTO":             ("change", "set",    "keep",   "keep",   "keep",   "-",      "keep",   "keep",   "-"),
    "DELETE MOR":            ("keep",   "keep",   "keep",   "keep",   "keep",   "set",    "keep",   "keep",   "-"),
    "ALTER ADD":             ("keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "-"),
    "ALTER DROP":            ("keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "-"),
    "APPEND":                ("keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "-"),
    "UPDATE MOR":            ("keep",   "keep",   "keep",   "keep",   "keep",   "change", "keep",   "keep",   "-"),
    "DELETE COW":            ("keep",   "keep",   "keep",   "keep",   "keep",   "change", "keep",   "keep",   "-"),
    "UPDATE COW":            ("keep",   "keep",   "keep",   "keep",   "keep",   "change", "keep",   "keep",   "-"),
    "MERGE upsert":          ("change", "keep",   "keep",   "keep",   "change", "keep",   "keep",   "keep",   "-"),
    "ANALYZE":               ("keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "-"),
    "OPTIMIZE ZORDER":       ("keep",   "keep",   "keep",   "keep",   "keep",   "reset",  "keep",   "keep",   "-"),
    "MERGE conditional":     ("change", "keep",   "keep",   "keep",   "keep",   "-",      "keep",   "keep",   "-"),
    "REBUCKET":              ("keep",   "keep",   "keep",   "keep",   "keep",   "-",      "keep",   "keep",   "-"),
    "CLONE shallow":         ("keep",   "change", "keep",   "keep",   "reset",  "-",      "keep",   "keep",   "-"),
    "CLONE deep":            ("keep",   "change", "keep",   "keep",   "reset",  "-",      "keep",   "keep",   "-"),
    "REPLACE":               ("reset",  "reset",  "reset",  "reset",  "-",      "-",      "reset",  "reset",  "-"),
    "RESTORE":               ("keep",   "keep",   "keep",   "keep",   "keep",   "set",    "keep",   "keep",   "-"),
    "ANALYZE after RESTORE": ("keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "keep",   "-"),
    "TRUNCATE":              ("keep",   "keep",   "keep",   "keep",   "keep",   "reset",  "keep",   "keep",   "-"),
    "OVERWRITE":             ("keep",   "reset",  "keep",   "reset",  "keep",   "-",      "keep",   "keep",   "-"),
    "SET TBLPROPERTIES":     ("keep",   "-",      "keep",   "-",      "keep",   "-",      "keep",   "change", "-"),
    "ADD CONSTRAINT":        ("keep",   "-",      "keep",   "-",      "keep",   "-",      "keep",   "keep",   "set"),
}
EXPECTED = {v: dict(zip(TRACKED, row)) for v, row in _EXPECTED_ROWS.items()}


@pytest.fixture(scope="module")
def matrix_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("matrix"))


@pytest.fixture(scope="module")
def verb_steps(spark, matrix_dir):
    from manifest_matrix import run_verbs

    return run_verbs(spark, matrix_dir)


def test_carry_matrix(verb_steps):
    """Every write verb keeps, sets, changes or resets the identity
    high-water mark, COPY history pointer, generated columns, defaults,
    writer watermarks, deletion vectors and sharding config exactly as
    pinned above."""
    got = carry_matrix(verb_steps)
    assert list(got) == list(EXPECTED)
    for verb, row in EXPECTED.items():
        assert got[verb] == row, verb


def test_every_step_commits_one_manifest(verb_steps):
    """Each verb is one atomic commit: a clone is its target's version
    0, every other step the version right after its starting
    snapshot."""
    for verb, before, after in verb_steps:
        fresh = before is None or verb.startswith("CLONE")
        want = 0 if fresh else before["version"] + 1
        assert after["version"] == want, verb


def test_analyze_after_restore_drops_restored_from_version(verb_steps):
    """``restored_from_version`` describes the RESTORE commit only; a
    later ANALYZE must not carry it forward."""
    by_verb = {verb: after for verb, _before, after in verb_steps}
    assert by_verb["RESTORE"]["restored_from_version"] == 2
    assert "restored_from_version" not in by_verb["ANALYZE after RESTORE"]


def test_every_matrix_manifest_passes_the_gate(matrix_dir, verb_steps, bloom_verbs):
    """Every write verb, both blind-append paths included, commits a
    manifest in the one format the readers admit."""
    paths = sorted(Path(matrix_dir).glob("*/_commits/[0-9]*.json"))
    # every step commits at least once
    assert len(paths) >= len(verb_steps) + len(bloom_verbs)
    for p in paths:
        check_format(json.loads(p.read_text()))


_FORGERIES = {
    "schema removed": lambda m: {k: v for k, v in m.items() if k != "schema"},
    "committed_at_ms removed": lambda m: {
        k: v for k, v in m.items() if k != "committed_at_ms"
    },
    "copy_files embedded": lambda m: {
        **m, "copy_files": {"file:/land/a.parquet": [10, 20, 0]}
    },
}


def test_older_manifests_are_refused_by_every_reader_and_writer(spark, tmp_path):
    """A latest manifest forged into an older shape is refused with
    UnsupportedTableFeatureError by every reader and writer, and the log
    is left exactly as it was: no reader quarantines it."""
    from pyspark.sql import functions as F

    from data_pipeline_demo_spark.sinks.copy_into import copy_into
    from data_pipeline_demo_spark.sinks.merge import NotMatchedClause, txlog_merge
    from data_pipeline_demo_spark.sinks.sql_dml import txtable_sql
    from data_pipeline_demo_spark.sinks.txlog import (
        read_txtable,
        txlog_upsert,
        txtable_changes,
    )
    from data_pipeline_demo_spark.sources.txtable_source import TxTableDataSource

    def rows(lo: int, hi: int):
        return spark.range(lo, hi).select("id", (F.col("id") % 3).alias("v"))

    root = str(tmp_path / "t")
    txlog_upsert(spark, rows(0, 4), root, key="id", num_buckets=2)
    txlog_upsert(spark, rows(2, 6), root)
    land = str(tmp_path / "land")
    rows(10, 12).write.parquet(land)
    commits = Path(root, "_commits")
    latest = Path(root, commit_rel(1))
    good = latest.read_bytes()
    snapshot = {"path": root}
    feed = {"path": root, "readchangefeed": "true", "startingversion": "0"}
    verbs = {
        "read_txtable": lambda: read_txtable(spark, root),
        "TIMESTAMP AS OF": lambda: txtable_sql(
            spark, f"SELECT * FROM txtable.`{root}` TIMESTAMP AS OF '2100-01-01'"
        ),
        "txtable_changes": lambda: txtable_changes(spark, root, 0, 1),
        "format schema": lambda: TxTableDataSource(snapshot).schema(),
        "format reader": lambda: TxTableDataSource(snapshot).reader(None),
        "format change feed schema": lambda: TxTableDataSource(feed).schema(),
        "format change feed reader": lambda: TxTableDataSource(feed).reader(None),
        "txlog_upsert": lambda: txlog_upsert(spark, rows(0, 1), root),
        "txlog_merge": lambda: txlog_merge(
            spark, rows(0, 1), root, not_matched=[NotMatchedClause()]
        ),
        "COPY INTO": lambda: copy_into(spark, root, land, "parquet"),
    }
    for forgery, forge in _FORGERIES.items():
        forged = json.dumps(forge(json.loads(good))).encode()
        latest.write_bytes(forged)
        # the checksum sidecar would no longer match the rewritten file
        Path(commits, f".{latest.name}.crc").unlink(missing_ok=True)
        listing = sorted(os.listdir(commits))
        for verb, run in verbs.items():
            with pytest.raises(UnsupportedTableFeatureError, match="predates"):
                run()
            assert sorted(os.listdir(commits)) == listing, (forgery, verb)
            assert latest.read_bytes() == forged, (forgery, verb)
    latest.write_bytes(good)
    assert read_txtable(spark, root).count() == 6


# ---------------------------------------------------------------------------
# Read planning: the pure functions both txtable readers plan through,
# and a differential check that the two readers agree on every version
# of the matrix tables.
# ---------------------------------------------------------------------------


def test_version_at_timestamp_adjusts_non_monotonic_commit_times():
    """Commit times are writer wall clocks: v2 stamped before v1 takes
    effective time 3001, so every side splits the log between v0 and v1
    at ts=2500."""
    commits = [(0, 1000), (1, 3000), (2, 2000), (3, 4000)]
    at = {
        side: version_at_timestamp(commits, 2500, side)
        for side in ("before", "at_or_before", "at_or_after")
    }
    assert at == {"before": 0, "at_or_before": 0, "at_or_after": 1}
    # an exact effective time: at_or_before includes it, before does not
    assert version_at_timestamp(commits, 3001, "at_or_before") == 2
    assert version_at_timestamp(commits, 3001, "before") == 1
    assert version_at_timestamp(commits, 3001, "at_or_after") == 2
    # outside the log: each caller picks its own answer for None
    assert version_at_timestamp(commits, 999, "at_or_before") is None
    assert version_at_timestamp(commits, 999, "before") is None
    assert version_at_timestamp(commits, 4001, "at_or_after") is None
    assert version_at_timestamp(commits, 10**6, "at_or_before") == 3

    # the commits are read only up to the answer
    seen = []

    def lazy():
        for v, t in commits:
            seen.append(v)
            yield v, t

    assert version_at_timestamp(lazy(), 1500, "before") == 0
    assert seen == [0, 1]


def test_changed_buckets_and_scan_files():
    old = {
        "buckets": {"0": ["a"], "1": ["b"], "2": ["c"], "10": ["d"]},
        "bucket_dvs": {"1": ["dv1"]},
    }
    new = {
        "buckets": {"0": ["a"], "1": ["b"], "2": ["c", "e"], "3": ["f"], "10": ["d"]},
        "bucket_dvs": {"0": ["dv0", "flat"], "10": ["flat"]},
    }
    # changed file lists, changed vector lists, a new bucket; ascending
    assert changed_buckets(old, new) == ["0", "1", "2", "3", "10"]
    assert changed_buckets(new, new) == []
    assert scan_files(new, [10, "0"]) == (["d", "a"], ["dv0", "flat"])
    assert scan_files(new, ["7"]) == ([], [])


def test_check_no_rename():
    f = lambda name, phys=None: {  # noqa: E731
        "name": name, "metadata": {"physical": phys} if phys else {}
    }
    check_no_rename({"schema": [f("a"), f("b")]}, {"schema": [f("a"), f("c")]})
    with pytest.raises(ValueError, match=r"column rename .*\['col-1'\]"):
        check_no_rename(
            {"version": 1, "schema": [f("a", "col-1")]},
            {"version": 2, "schema": [f("b", "col-1")]},
        )


@pytest.fixture(scope="module")
def bloom_verbs(spark, matrix_dir):
    from manifest_matrix import run_bloom_appends

    return run_bloom_appends(spark, matrix_dir)


def _row_key(d: dict) -> tuple:
    """A row as a hashable multiset element; a null and an absent column
    are the same (the readers align a window's two schemas
    differently)."""
    return tuple(sorted((k, repr(v)) for k, v in d.items() if v is not None))


def _collect_tagged(frames: dict) -> dict[str, Counter]:
    """The row multiset of each frame in ``frames`` ({tag: DataFrame}),
    read in one collect: the frames are tagged and unioned by name."""
    from functools import reduce

    from pyspark.sql import functions as F

    union = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [df.withColumn("__case", F.lit(tag)) for tag, df in frames.items()],
    )
    out = {tag: Counter() for tag in frames}
    for r in union.collect():
        d = r.asDict(True)
        out[d.pop("__case")][_row_key(d)] += 1
    return out


def _format_rows(options: dict) -> Counter:
    """The row multiset ``format("txtable")`` reads for ``options``,
    planned and read in-process by the DataSource's own reader (the
    code Spark's Python workers run, without a worker round trip per
    read)."""
    import pyarrow as pa

    from data_pipeline_demo_spark.sources.txtable_source import TxTableDataSource

    src = TxTableDataSource(options)
    reader = src.reader(src.schema())
    return Counter(
        _row_key(r)
        for p in reader.partitions()
        for b in reader.read(p)
        for r in pa.Table.from_batches([b]).to_pylist()
    )


def _snapshot_diff(old: Counter, new: Counter, preimages: bool) -> Counter:
    """The changes a pair of snapshots implies, keyed by ``id``: a row
    only in ``new`` is an insert, only in ``old`` a delete, and a key in
    both whose other values differ an update (a preimage and a
    postimage with ``preimages``). Shares no planning code with either
    reader, so it also catches a planner both readers get wrong."""
    o = {dict(r)["id"]: dict(r) for r in old}
    n = {dict(r)["id"]: dict(r) for r in new}
    out = Counter()

    def emit(row: dict, tag: str) -> None:
        out[tuple(sorted({**row, "_change_type": repr(tag)}.items()))] += 1

    for k in n.keys() - o.keys():
        emit(n[k], "insert")
    for k in o.keys() - n.keys():
        emit(o[k], "delete")
    for k in o.keys() & n.keys():
        if o[k] != n[k] and preimages:
            emit(o[k], "update_preimage")
            emit(n[k], "update_postimage")
        elif o[k] != n[k]:
            emit(n[k], "update")
    return out


def test_both_readers_agree_on_every_matrix_version(
    spark, matrix_dir, verb_steps, bloom_verbs
):
    """Every version of the verb-matrix table ``t`` and the Bloom table
    ``bt`` reads the same rows through ``read_txtable`` and
    ``format("txtable")``; every consecutive version pair gives the same
    changes through ``txtable_changes`` and the DataSource's change
    feed, with and without preimages, and equal to the changes the two
    snapshots imply. Windows across a bucket-count change are refused
    by the DataSource."""
    from data_pipeline_demo_spark.sinks.txlog import read_txtable, txtable_changes

    for name in ("t", "bt"):
        root = os.path.join(matrix_dir, name)
        manifests = [
            json.loads(p.read_text())
            for p in sorted(Path(root, "_commits").glob("[0-9]*.json"))
        ]
        assert len(manifests) > 5
        jvm, fmt, windows = {}, {}, []
        for v in range(len(manifests)):
            jvm[f"v{v}"] = read_txtable(spark, root, version=v)
            fmt[f"v{v}"] = {"path": root, "version": str(v)}
        for v in range(len(manifests) - 1):
            window = {
                "path": root,
                "readchangefeed": "true",
                "startingversion": str(v),
                "endingversion": str(v + 1),
            }
            rebucketed = manifests[v]["num_buckets"] != manifests[v + 1]["num_buckets"]
            if rebucketed:
                with pytest.raises(NotImplementedError, match="bucket-count"):
                    _format_rows(window)
            for pre in (False, True):
                tag = f"v{v}->v{v + 1} preimages={pre}"
                windows.append((v, pre, tag))
                jvm[tag] = txtable_changes(spark, root, v, v + 1, include_preimages=pre)
                if not rebucketed:
                    fmt[tag] = {**window, "includepreimages": str(pre).lower()}
        want = _collect_tagged(jvm)
        for v, pre, tag in windows:
            implied = _snapshot_diff(want[f"v{v}"], want[f"v{v + 1}"], pre)
            assert want[tag] == implied, (name, tag)
        for tag, options in fmt.items():
            assert _format_rows(options) == want[tag], (name, tag)


def test_both_pruning_entry_points_agree(spark, matrix_dir, bloom_verbs):
    """``read_txtable``'s zone-map, Bloom and null-count probes and the
    same predicates pushed into ``format("txtable")`` prune through one
    tier each and return the same rows as an unpruned filtered scan."""
    from data_pipeline_demo_spark.sinks.txlog import read_txtable

    root = os.path.join(matrix_dir, "bt")
    full = read_txtable(spark, root)
    ds = spark.read.format("txtable").load(root)
    cases = [
        ({"prune_between": {"v": (2, 3)}}, "v >= 2 AND v <= 3"),
        ({"bloom_eq": {"s": "s42"}}, "s = 's42'"),
        ({"bloom_in": {"s": ["s12", "s61", "nope"]}}, "s IN ('s12', 's61', 'nope')"),
        ({"prune_is_null": {"v": False}}, "v IS NOT NULL"),
    ]
    frames = {}
    for i, (kwargs, where) in enumerate(cases):
        frames[f"{i} scan"] = full.filter(where)
        frames[f"{i} read_txtable"] = read_txtable(spark, root, **kwargs)
        frames[f"{i} format"] = ds.filter(where)
    got = _collect_tagged(frames)
    for i, (_, where) in enumerate(cases):
        assert got[f"{i} scan"], where
        assert got[f"{i} read_txtable"] == got[f"{i} scan"], where
        assert got[f"{i} format"] == got[f"{i} scan"], where
