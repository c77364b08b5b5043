"""1M-file manifest soak (round-12 judge stretch directive #10):
measure snapshot load, single-bucket commit latency, and root bytes on
SYNTHESIZED manifests at growing file counts, sharded vs unsharded —
so the 100 TB metadata claim carries numbers, not an asymptote.

File entries are fabricated rel paths (metadata-only: nothing reads
data files here); the commit path exercised is the REAL one
(next_manifest -> _commit_manifest -> deflate -> LogStore claim).

Usage: python tools/manifest_soak.py [max_files=1000000]
Prints one JSON line per (mode, n_files) step.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_demo_spark.session import get_spark  # noqa: E402
from data_pipeline_demo_spark.sinks.manifest import next_manifest  # noqa: E402
from data_pipeline_demo_spark.sinks.txlog import (  # noqa: E402
    _commit_manifest,
    _latest_manifest,
    _read_manifest,
)

NUM_BUCKETS = 64
GROUPS = 32


def _fabricate_buckets(n_files: int) -> dict[str, list[str]]:
    per = max(1, n_files // NUM_BUCKETS)
    return {
        str(b): [
            f"data/{b:04d}/{i:08d}-0123456789abcdef0123456789abcdef.parquet"
            for i in range(per)
        ]
        for b in range(NUM_BUCKETS)
    }


def _base_manifest(buckets: dict, sharded: bool) -> dict:
    return next_manifest(
        None,
        "SOAK",
        key="id",
        num_buckets=NUM_BUCKETS,
        schema=[
            {"name": c, "type": t, "nullable": True, "metadata": {}}
            for c, t in (("id", "long"), ("v", "double"))
        ],
        buckets=buckets,
        row_counts={b: len(r) * 1000 for b, r in buckets.items()},
        stats_columns=["v"],
        bucket_stats={b: {"v": [0.0, 1.0]} for b in buckets},
        manifest_sharding={"groups": GROUPS} if sharded else None,
    )


def soak(max_files: int) -> list[dict]:
    spark = get_spark("manifest-soak", master="local[4]", shuffle_partitions=8)
    out = []
    n = max_files // 100
    while n <= max_files:
        for sharded in (False, True):
            root = os.path.join(
                tempfile.mkdtemp(prefix="soak-"),
                f"t_{'s' if sharded else 'p'}_{n}",
            )
            buckets = _fabricate_buckets(n)
            # v0: the full table at n files
            t0 = time.perf_counter()
            _commit_manifest(
                spark, root, _base_manifest(buckets, sharded)
            )
            t_full = time.perf_counter() - t0
            # snapshot load
            t0 = time.perf_counter()
            prev = _latest_manifest(spark, root)
            t_load = time.perf_counter() - t0
            # metadata-only probe (point lookup's manifest cost): root
            # read without shard resolution
            t0 = time.perf_counter()
            _read_manifest(spark, root, 0, inflate=False)
            t_probe = time.perf_counter() - t0
            # single-bucket commit: one bucket gains one file
            nb = dict(prev["buckets"])
            nb["7"] = list(nb["7"]) + ["data/0007/new-file.parquet"]
            m1 = next_manifest(prev, "SOAK", buckets=nb)
            t0 = time.perf_counter()
            _commit_manifest(spark, root, m1, prev=prev)
            t_commit = time.perf_counter() - t0
            root_bytes = os.path.getsize(
                os.path.join(root, "_commits", f"{1:020d}.json")
            )
            rec = {
                "mode": "sharded" if sharded else "plain",
                "n_files": n,
                "full_write_s": round(t_full, 4),
                "snapshot_load_s": round(t_load, 4),
                "root_probe_s": round(t_probe, 4),
                "one_bucket_commit_s": round(t_commit, 4),
                "root_bytes": root_bytes,
            }
            print(json.dumps(rec), flush=True)
            out.append(rec)
        n *= 10
    return out


if __name__ == "__main__":
    soak(int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000)
