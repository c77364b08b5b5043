"""Output checks: DuckDB oracle digests for registry queries.

A Spark result and its oracle agree when their row counts and their
order-insensitive value digests match. Values are normalized with the
repository's own oracle comparator (``tools/check_oracle.py``, imported
read-only), so this check and the repository's correctness gate accept
exactly the same results.

The input tables are ``DATA_DIR``: the ten sf0.01 tables of the
repository's test data (TESTDATA.md, data seed 42), copied byte for
byte, so the oracle answers are the ones the correctness gate sees.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os

import duckdb

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@functools.cache
def _comparator():
    path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of already-normalized row tuples."""
    h = hashlib.sha256()
    for r in sorted(map(repr, rows)):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def spark_result(df) -> tuple[int, str]:
    """(row count, digest) of a DataFrame, columns sorted by name."""
    cols = sorted(df.columns)
    rows = [_comparator().row_key(r.asDict(), cols) for r in df.collect()]
    return len(rows), digest(rows)


def oracle_results(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
    """(row count, digest) of each oracle SQL over the same parquet files."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            t = f.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sqls.items():
            cur = con.execute(sql)
            raw = [d[0] for d in cur.description]
            cols = sorted(raw)
            rows = [_comparator().row_key(dict(zip(raw, r)), cols) for r in cur.fetchall()]
            out[name] = (len(rows), digest(rows))
        return out
    finally:
        con.close()
