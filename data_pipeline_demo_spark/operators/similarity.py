"""Embedding similarity search (north-star surface).

Search tiers over `embeddings.embedding: array<float>[64]`:

- **Exact brute-force top-k** (`knn_exact`, `knn_numpy`,
  `knn_exact_fast`): probe set ⋈ corpus with a deterministic
  decimal-exact cosine — the correctness baseline, and the right choice
  when the probe set is small enough to broadcast.
- **LSH-bucketed ANN** (`ann_lsh_topk`, `build_ann_index`):
  random-hyperplane signatures → candidates share a bucket → exact
  re-rank inside buckets. The corpus is scanned once to sign, and each
  probe only touches its buckets (partition pruning on the bucket key).
- **IVF / IVF-PQ** (`ivf_build_index`, `ivfpq_build_index`): a coarse
  k-means quantizer partitions the corpus into inverted lists; probes
  read only their ``nprobe`` nearest lists.

Every centroid computation — IVF/IVF-PQ builds, IVF append and CDC
refresh, ``ivf_query`` routing, ``cluster_embeddings`` and SemDeDup —
goes through ONE driver-resident k-means: the hash-sample init
(:func:`_centroids`), Lloyd refinement (:func:`_refine_arrow`) and the
single-scan router (:func:`_route_fold`).

Float determinism: dot products and norms route through ``_dot_exact``'s
floor-scaled integer accumulation below, so Spark's result is
bit-identical to the single-threaded DuckDB oracle (same per-element
IEEE products, exact integer accumulation, one final double division).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sinks.upsert import read_json_sidecar, write_json_sidecar

# Fixed-point scale for dot products: per-element products are floor-scaled
# to integers BEFORE accumulation. floor() operates on bit-identical IEEE
# doubles in any engine, so there is no rounding-direction ambiguity at
# all (decimal casts round, and engines disagree on inexact scaled values).
# 1e-12 quantization is far below any similarity-search signal.
DOT_SCALE = 1e12

# semantic_dedup's persisted intermediates (assignments + pairs), kept so
# a repeat run inside one process can be made honestly cold: the bench's
# per-run setup calls clear_semantic_scratch() (mirroring the dedup
# family's clear_shingle_scratch), otherwise Spark's CacheManager would
# substitute run 1's cached relation into run 2's identical plan.
_SEMANTIC_SCRATCH: list = []


def clear_semantic_scratch() -> None:
    """Unpersist every semantic_dedup intermediate this process has
    registered. Safe to call at any time; the next semantic_dedup
    recomputes from its inputs. ``semantic_dedup`` calls it on entry,
    so repeated calls hold at most one call's scratch."""
    while _SEMANTIC_SCRATCH:
        df = _SEMANTIC_SCRATCH.pop()
        # a stopped context has already dropped its cache (and unpersist
        # would raise on it)
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist()


def _dot_exact(a: Column, b: Column) -> Column:
    """Deterministic dot product of two float arrays: identical IEEE
    products, floor-scaled to int64, exact integer accumulation."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(DOT_SCALE)),
    )
    total = F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return total.cast("double") / F.lit(DOT_SCALE)


def l2_norm_exact(v: Column) -> Column:
    return F.sqrt(_dot_exact(v, v))


def cosine_exact(a: Column, b: Column) -> Column:
    return _dot_exact(a, b) / (l2_norm_exact(a) * l2_norm_exact(b))


def knn_exact(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector.

    probes: (probe_id, embedding). The probe side is broadcast — the
    corpus streams through one scan regardless of size; per-probe top-k
    via row_number with vec_id tiebreak (deterministic under score ties).

    ``band=(lo, hi)``: rank only candidates with ``lo <= cosine < hi``
    — the HARD-NEGATIVE mining shape for contrastive training (similar
    enough to be informative, below the near-duplicate ceiling). The
    filter runs before the ranking window, so banded top-k is exact,
    not a post-filter of the unbanded top-k.
    """
    # Norms are per-vector, not per-pair: compute each side's L2 ONCE
    # below the join (the projection sits under the join boundary, so
    # Catalyst can't inline it back into the per-pair expression). The
    # pair then costs one dot-product aggregate, not three.
    # zero-norm vectors have no defined cosine: filtering them beats the
    # ANSI DIVIDE_BY_ZERO the division would raise on degenerate input
    p = F.broadcast(
        probes.select(
            F.col(probe_id_col),
            F.col(vec_col).alias("__pvec"),
            l2_norm_exact(F.col(vec_col)).alias("__pnorm"),
        ).filter(F.col("__pnorm") > 0)
    )
    scored = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm_exact(F.col(vec_col)).alias("__cnorm"),
        )
        .filter(F.col("__cnorm") > 0)
        .crossJoin(p)
        .filter(F.col(id_col) != F.col(probe_id_col))
        .select(
            probe_id_col,
            id_col,
            (
                _dot_exact(F.col("__pvec"), F.col(vec_col))
                / (F.col("__pnorm") * F.col("__cnorm"))
            ).alias("cosine"),
        )
    )
    if band is not None:
        lo, hi = band
        scored = scored.filter(
            (F.col("cosine") >= lo) & (F.col("cosine") < hi)
        )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_numpy(
    corpus: DataFrame,
    probes_pdf,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Throughput tier of the exact brute-force search: same top-k
    semantics as ``knn_exact``, scored with one BLAS matmul per Arrow
    batch instead of a per-pair codegen fold.

    ``knn_exact`` pays O(d) expression evaluation per (corpus, probe)
    pair — the price of bit-exact oracle parity. When the consumer
    needs exact NEIGHBORS but not bit-reproducible scores (every
    retrieval/dedup use), a ``mapInPandas`` kernel turns the scan into
    dense linear algebra: normalize the batch, ``C @ P.T``, per-batch
    ``argpartition`` top-k — emitting k rows per probe PER BATCH, so
    the shuffle into the global top-k window carries
    O(batches × probes × k), never the corpus. The probe matrix rides
    into every task as a plan literal (it is the broadcast side by
    contract, same as ``knn_exact``).

    ``probes_pdf``: pandas DataFrame with ``probe_id_col`` and
    ``vec_col`` (driver-side by design — probes are metadata-sized).
    Zero-norm vectors are excluded on both sides, matching
    ``knn_exact``. Ties broken by ascending id, matching the exact
    tier. Measured at sf0.1 (10k×64 corpus, 40 probes, local[32]):
    0.37s vs the exact tier's 1.15s (~3×); the gap widens with probe
    count (matmul amortizes the scan, the fold multiplies it).
    """
    import numpy as np
    import pandas as pd

    pmat = np.asarray(list(probes_pdf[vec_col]), dtype=np.float64)
    pids = np.asarray(list(probes_pdf[probe_id_col]))
    pnorm = np.linalg.norm(pmat, axis=1)
    keep = pnorm > 0
    pmat, pids, pnorm = pmat[keep], pids[keep], pnorm[keep]
    pn = pmat / pnorm[:, None]
    kk = int(k)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            cids = pdf[id_col].to_numpy()
            cnorm = np.linalg.norm(cmat, axis=1)
            ok = cnorm > 0
            cmat, cids, cnorm = cmat[ok], cids[ok], cnorm[ok]
            if not len(cids):
                continue
            sims = (cmat / cnorm[:, None]) @ pn.T  # batch × probes
            for j in range(len(pids)):
                col = sims[:, j]
                mask = cids != pids[j]  # exclude self-match, as knn_exact
                idx = np.nonzero(mask)[0]
                if not len(idx):
                    continue
                take = min(kk, len(idx))
                top = idx[np.argpartition(-col[idx], take - 1)[:take]]
                yield pd.DataFrame(
                    {
                        probe_id_col: pids[j].repeat(take),
                        id_col: cids[top],
                        "cosine": col[top],
                    }
                )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        score, f"{probe_id_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _plane_signs(seed: int, plane: int, dim: int) -> list[float]:
    """±1 hyperplane weights, derived driver-side from md5(seed|plane|i).

    The planes are model constants: burning executor cycles re-deriving
    them per row (the old per-element hash-in-a-lambda did dim hashes ×
    planes × rows) is pure waste — they fold into the plan as literals.
    """
    import hashlib

    return [
        1.0 if hashlib.md5(f"{seed}|{plane}|{i}".encode()).digest()[0] & 1 else -1.0
        for i in range(dim)
    ]


def hyperplane_signature(
    vec: Column, num_planes: int = 16, dim: int = 64, seed: int = 42
) -> Column:
    """Random-hyperplane LSH signature (an integer bucket id).

    Plane weights are deterministic literals (no stored model, no per-row
    derivation); each projection is one zip_with/aggregate fold over the
    vector.
    """
    bits = []
    for pl in range(num_planes):
        weights = F.array(*[F.lit(w) for w in _plane_signs(seed, pl, dim)])
        proj = F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit(1 << pl)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


ANN_INDEX_META = "_ann_index_meta.json"


def _sign_melt(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    num_tables: int,
) -> DataFrame:
    """Sign a vector relation with the deterministic hyperplane family
    and melt to one (id, vec, norm, tbl, bucket) row per table — the
    at-rest row shape of the persisted ANN index."""
    signed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm_exact(F.col(vec_col)).alias("norm"),
        *[
            hyperplane_signature(F.col(vec_col), num_planes, seed=1000 + t).alias(f"sig_{t}")
            for t in range(num_tables)
        ],
    )
    return signed.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("norm"),
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tbl"), F.col(f"sig_{t}").alias("bucket"))
                for t in range(num_tables)
            ])
        ).alias("tb"),
    ).select(
        F.col(id_col), F.col(vec_col), F.col("norm"),
        F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
    ).filter(F.col("norm") > 0)


def build_ann_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 8,
) -> None:
    """Materialize the LSH-signed corpus as a parquet layout partitioned
    by (tbl, bucket) — the at-rest form of the ANN index.

    This is the 100 TB shape of `ann_lsh_topk`'s corpus side: sign once
    per corpus snapshot, write `partitionBy(tbl, bucket)`, and every
    probe batch afterwards reads ONLY its buckets via partition pruning
    (`PartitionFilters` in the scan — asserted in tests) instead of
    re-signing and shuffling the whole corpus per query.
    """
    _sign_melt(corpus, id_col, vec_col, num_planes, num_tables).write.mode(
        "overwrite"
    ).partitionBy("tbl", "bucket").parquet(index_path)
    write_json_sidecar(
        corpus.sparkSession,
        index_path.rstrip("/") + "/" + ANN_INDEX_META,
        {"num_planes": num_planes, "num_tables": num_tables},
    )




def ann_index_append(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: sign ONLY the new vectors and
    append their rows to the existing (tbl, bucket) layout.

    The hyperplane family is derived from fixed seeds, so a vector
    signed today lands in exactly the bucket it would have landed in at
    build time — the plane/table parameters are read back from the
    index's own metadata sidecar, never trusted from the caller. At
    100 TB this turns index refresh from an O(corpus) rebuild into an
    O(new vectors) append; probes see old and new vectors uniformly.

    Append-only contract: re-adding an id that is already indexed
    duplicates it (detecting that would read the whole index — the
    caller dedups its increment, same as the upsert sink's batch
    contract).
    """
    meta = read_json_sidecar(
        new_vectors.sparkSession, index_path.rstrip("/") + "/" + ANN_INDEX_META
    )
    if meta is None:
        raise ValueError(
            f"no ANN index metadata at {index_path}; build_ann_index first"
        )
    _sign_melt(
        new_vectors, id_col, vec_col, meta["num_planes"], meta["num_tables"]
    ).write.mode("append").partitionBy("tbl", "bucket").parquet(index_path)


def _rewrite_touched_partitions(
    spark,
    index_path: str,
    part_cols: list[str],
    drop_keys: DataFrame,
    fresh_rows: DataFrame,
    id_col: str,
) -> bool:
    """Shared mechanics of CDC index refresh over a partitioned parquet
    layout: rewrite exactly the partitions named by ``drop_keys``
    (which must be a superset of ``fresh_rows``' partition keys — the
    caller unions stale and fresh key sets, making a replayed refresh
    converge instead of duplicating).

    1. collect the touched partition tuples (maintenance-increment-
       sized by contract, never index-sized);
    2. partition-pruned read of only those partitions;
    3. survivors = old rows minus drop_keys on (id, *part_cols);
    4. dynamic-partition-overwrite survivors ∪ fresh;
    5. delete any partition directory the feed fully drained — dynamic
       overwrite cannot express an empty partition.

    Returns False when nothing was touched (caller short-circuits)."""
    from functools import reduce

    from ..sinks.upsert import _hadoop_fs

    touched = {
        tuple(r[c] for c in part_cols)
        for r in drop_keys.select(*part_cols).distinct().collect()
    }
    if not touched:
        return False
    part_pred = reduce(
        lambda a, c: a | c,
        [
            reduce(
                lambda a, c: a & c,
                [F.col(col) == v for col, v in zip(part_cols, key)],
            )
            for key in touched
        ],
    )
    old = spark.read.parquet(index_path).filter(part_pred)
    survivors = old.join(
        drop_keys, on=[id_col, *part_cols], how="left_anti"
    )
    final = survivors.unionByName(fresh_rows).persist()
    kept = {
        tuple(r[c] for c in part_cols)
        for r in final.select(*part_cols).distinct().collect()
    }
    (
        final.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(index_path)
    )
    final.unpersist()
    fs, qualified = _hadoop_fs(spark, index_path)
    jvm = spark._jvm
    for key in sorted(touched - kept):  # fully drained
        rel = "/".join(f"{c}={v}" for c, v in zip(part_cols, key))
        fs.delete(jvm.org.apache.hadoop.fs.Path(qualified, rel), True)
    return True


def ann_index_refresh_from_txtable(
    spark,
    index_path: str,
    table_root: str,
    since_version: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int]:
    """CDC-driven ANN index maintenance — upgrades the append-only
    contract to full update/delete propagation, the ANN analog of
    ``dedup.minhash_index_refresh_from_txtable``: vectors live in a
    txtable; the preimage-complete change feed between
    ``since_version`` and the latest snapshot drives the minimal index
    mutation.

    The key insight is that the hyperplane family is seed-derived, so
    a STALE row's exact location is computable from the feed alone:
    re-signing the update/delete PREIMAGE vector names the exact
    (tbl, bucket) partitions holding that id's rows — no index scan to
    find them. Refresh then:

    1. signs preimages (stale keys) and insert/update postimages
       (fresh rows) with the index's recorded parameters;
    2. reads ONLY the touched partitions (a per-table bucket IN-list
       over the partition columns, so the scan partition-prunes — the
       same PartitionFilters mechanism the probe path plan-asserts);
    3. keeps survivors = old rows minus BOTH key sets (subtracting the
       fresh keys too makes a replayed refresh converge instead of
       duplicating — idempotent under the same watermark);
    4. dynamic-partition-overwrites survivors ∪ fresh, and removes any
       partition the feed fully drained (dynamic overwrite cannot
       express an empty partition).

    Cost: O(changed buckets) for the diff + O(changed vectors ×
    num_tables) partitions rewritten — never O(corpus), never
    O(index). Returns ``(vectors_refreshed, consumed_version)``;
    persist the version as the consumer watermark and pass it back
    next call (same-version call is a no-op)."""
    from ..sinks.txlog import _latest_manifest, txtable_changes

    manifest = _latest_manifest(spark, table_root)
    if manifest is None:
        raise FileNotFoundError(f"no committed txtable at {table_root}")
    latest = manifest["version"]
    if since_version >= latest:
        return 0, latest
    feed = txtable_changes(
        spark, table_root, since_version, latest, include_preimages=True
    )
    n = apply_index_changes(
        spark, index_path, feed, kind="lsh", id_col=id_col, vec_col=vec_col
    )
    return n, latest


def apply_index_changes(
    spark,
    index_path: str,
    feed: DataFrame,
    kind: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Apply ONE preimage-complete change-feed slice (``_change_type``
    ∈ insert / update_preimage / update_postimage / delete — read the
    feed with preimages, or key-moving updates leave stale rows) to a
    persisted vector index: ``kind="lsh"`` for the hyperplane layout,
    ``kind="ivf"`` for the inverted lists. This is the refresh CORE
    shared by the version-ranged batch wrappers and the streaming
    maintenance job — idempotent per slice (replays converge), so
    foreachBatch redelivery is safe. Returns vectors refreshed."""
    if kind == "lsh":
        meta = read_json_sidecar(
            spark, index_path.rstrip("/") + "/" + ANN_INDEX_META
        )
        if meta is None:
            raise ValueError(
                f"no ANN index metadata at {index_path}; build_ann_index "
                "first"
            )
        np_, nt = meta["num_planes"], meta["num_tables"]

        def place(change_types: list[str]) -> DataFrame:
            part = feed.filter(
                F.col("_change_type").isin(change_types)
            ).select(id_col, vec_col)
            return _sign_melt(part, id_col, vec_col, np_, nt)

        part_cols = ["tbl", "bucket"]
    elif kind == "ivf":
        cids, C_list = _load_centroids(spark, index_path)

        def place(change_types: list[str]) -> DataFrame:
            part = feed.filter(
                F.col("_change_type").isin(change_types)
            ).select(id_col, vec_col)
            nz = part.filter(l2_norm_exact(F.col(vec_col)) > 0)
            return _ivf_rows(nz, C_list, cids, id_col, vec_col)

        part_cols = ["centroid_id"]
    else:
        raise ValueError(f"kind must be 'lsh' or 'ivf', got {kind!r}")

    stale_keys = place(["update_preimage", "delete"]).select(
        id_col, *part_cols
    )
    fresh_rows = place(["insert", "update_postimage"])
    drop_keys = stale_keys.unionByName(
        fresh_rows.select(id_col, *part_cols)
    )
    if not _rewrite_touched_partitions(
        spark, index_path, part_cols, drop_keys, fresh_rows, id_col
    ):
        return 0
    return drop_keys.select(id_col).distinct().count()


def _probe_bucket_structs(num_tables: int, multiprobe: int, num_planes: int):
    """(tbl, bucket) struct list for the probe-side melt: each table's
    own signature, plus — under multi-probe — the ``multiprobe`` buckets
    at Hamming distance 1 (least-significant plane bits flipped first).
    Planes near the decision boundary are the likeliest single-bit
    misses, so probing 1-flip neighbors buys recall at a fixed table
    count for (1 + multiprobe)× probe-side bucket fan-out — the
    multi-probe LSH trade (Lv et al., VLDB'07). Corpus-side signatures
    are never flipped: the index layout is untouched."""
    flips = [0] + [1 << j for j in range(min(multiprobe, num_planes))]
    return [
        F.struct(
            F.lit(t).alias("tbl"),
            F.col(f"sig_{t}").bitwiseXOR(F.lit(flip)).alias("bucket"),
        )
        for t in range(num_tables)
        for flip in flips
    ]


def ann_query_indexed(
    spark,
    index_path: str,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    num_planes: int = 4,
    num_tables: int = 8,
    multiprobe: int = 0,
) -> DataFrame:
    """Top-k over a persisted ANN index: sign the probes, prune the
    index scan to exactly the (tbl, bucket) partitions the probes hash
    into, then exact-cosine re-rank — the corpus is never re-signed and
    untouched buckets are never read. ``multiprobe`` additionally reads
    each probe's Hamming-1 neighbor buckets (see
    :func:`_probe_bucket_structs`) — more partitions read, higher
    recall, same index."""
    p_signed = probes.select(
        F.col(probe_id_col).alias("__pid"),
        F.col(vec_col).alias("__pvec"),
        l2_norm_exact(F.col(vec_col)).alias("__pnorm"),
        *[
            hyperplane_signature(F.col(vec_col), num_planes, seed=1000 + t).alias(f"sig_{t}")
            for t in range(num_tables)
        ],
    )
    p = F.broadcast(
        p_signed.filter(F.col("__pnorm") > 0).select(
            "__pid", "__pvec", "__pnorm",
            F.explode(
                F.array(*_probe_bucket_structs(num_tables, multiprobe, num_planes))
            ).alias("tb"),
        ).select(
            "__pid", "__pvec", "__pnorm",
            F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
        )
    )
    wanted = [
        (r["tbl"], r["bucket"])
        for r in p.select("tbl", "bucket").distinct().collect()
    ]
    index = spark.read.parquet(index_path)
    # partition-pruning predicate on the partition columns: the scan's
    # PartitionFilters keeps unselected bucket directories unread
    pred = F.struct(F.col("tbl"), F.col("bucket")).isin(
        [F.struct(F.lit(t), F.lit(b)) for t, b in wanted]
    )
    cand = (
        index.filter(pred)
        .join(p, ["tbl", "bucket"])
        .filter(F.col(id_col) != F.col("__pid"))
        .dropDuplicates(["__pid", id_col])
    )
    scored = cand.select(
        F.col("__pid").alias(probe_id_col),
        F.col(id_col),
        (
            _dot_exact(F.col("__pvec"), F.col(vec_col))
            / (F.col("__pnorm") * F.col("norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ann_lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    num_planes: int = 4,
    num_tables: int = 8,
    multiprobe: int = 0,
) -> DataFrame:
    """ANN: probes only compare against corpus vectors sharing an LSH
    bucket in ≥1 of `num_tables` hash tables, then exact cosine re-rank.

    Recall is tunable via (planes, tables): P(bucket hit) = p^planes per
    table with p = 1 - θ/π. Weakly-similar neighbors (cosine ~0.3, θ≈72°,
    p≈0.6) need few planes and several tables — 4×8 gives ~0.7 recall on
    near-random corpora; strongly-clustered embeddings afford more planes
    (smaller buckets). ``multiprobe`` additionally probes each probe's
    Hamming-1 neighbor buckets (probe side only — see
    :func:`_probe_bucket_structs`), raising recall without more tables.
    The exactness-critical final scoring reuses `cosine_exact`. At 100 TB
    the corpus side is written bucketed by (table, bucket) so probe
    lookups prune partitions.
    """
    def signed(df: DataFrame, idc: str, norm_alias: str, flips: int = 0) -> DataFrame:
        sigs = [
            hyperplane_signature(F.col(vec_col), num_planes, seed=1000 + t).alias(f"sig_{t}")
            for t in range(num_tables)
        ]
        melted = df.select(
            F.col(idc),
            F.col(vec_col),
            l2_norm_exact(F.col(vec_col)).alias(norm_alias),
            *sigs,
        ).select(
            F.col(idc),
            F.col(vec_col),
            F.col(norm_alias),
            F.explode(
                F.array(*_probe_bucket_structs(num_tables, flips, num_planes))
            ).alias("tb"),
        )
        return melted.filter(F.col(norm_alias) > 0).select(
            F.col(idc),
            F.col(vec_col),
            F.col(norm_alias),
            F.col("tb.tbl").alias("tbl"),
            F.col("tb.bucket").alias("bucket"),
        )

    c = signed(corpus, id_col, "__cnorm")
    p = F.broadcast(
        signed(
            probes.select(F.col(probe_id_col).alias("__pid"), F.col(vec_col)),
            "__pid",
            "__pnorm",
            flips=multiprobe,
        ).withColumnRenamed(vec_col, "__pvec")
    )
    cand = (
        c.join(p, ["tbl", "bucket"])
        .filter(F.col(id_col) != F.col("__pid"))
        .select(
            F.col("__pid").alias(probe_id_col),
            F.col(id_col),
            F.col("__pvec"),
            F.col(vec_col),
            F.col("__pnorm"),
            F.col("__cnorm"),
        )
        .dropDuplicates([probe_id_col, id_col])
    )
    scored = cand.select(
        probe_id_col,
        id_col,
        (
            _dot_exact(F.col("__pvec"), F.col(vec_col))
            / (F.col("__pnorm") * F.col("__cnorm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# --- IVF (inverted-file) tier --------------------------------------------


def _centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Deterministic coarse quantizer: the n_centroids corpus vectors with
    the smallest xxhash64(id) — a uniform pseudo-random sample that needs
    no training job and is reproducible across engines and runs. It is
    the init of :func:`_kmeans`."""
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("__r", F.xxhash64(F.col(id_col)))
        .orderBy("__r")
        .limit(n_centroids)
        .drop("__r")
        .select(
            F.row_number()
            .over(Window.orderBy(F.col(id_col)))
            .alias("centroid_id"),
            F.col(vec_col).alias("__cvec"),
        )
    )


def _fold_kernels():
    """The numpy kernels the k-means ships to Python workers, returned
    as NESTED functions so Spark pickles them BY VALUE inside task
    closures (the engine package is not assumed importable on executor
    Python workers — every other operator's mapInPandas body follows
    the same convention).

    - ``make_sims(C)``: the routing cosine of every (row, centroid)
      cell, deterministic at any partitioning: ``acc + x_i*y_i`` is
      folded LEFT-TO-RIGHT over the array, dimension-by-dimension across
      all cells at once, then divided by ``sqrt(|x|² · |c|²)`` — the
      same IEEE double ops in the same order for every row, so a
      vector's route never depends on its batch. ``C`` is float64
      (float32 → float64 is exact). Routing only picks WHICH
      centroid/list a vector belongs to; result-bearing cosines
      (knn_exact and the oracle-checked tiers) keep ``_dot_exact``.
    - ``batch_route(pdf, vec_col, sims_fn, dim, n_best=1)``: routes one
      pandas batch, returning ``(ok_mask, top, sims, V)`` with ``top``
      the ``(rows, n_best)`` centroid indices of the ok rows. Rows
      whose vector length mismatches the centroid dimension are not
      ok: they get NO assignment. The order is (sim desc, centroid
      index asc) with NaN greatest — Spark's double ordering — so ties
      go to the smallest centroid id (centroids are cid-ascending);
      for ``n_best=1`` numpy's argmax (first maximum, first NaN) is
      that rule.
    - ``decimal_ints(V)``: per-element replication of Spark's
      ``cast(decimal(28,10))`` as integers in 1e-10 units — HALF_UP
      rounding of the value's SHORTEST decimal representation (Spark's
      Decimal(double) goes through Double.toString, the same
      shortest-round-trip string Python's repr produces); non-finite /
      overflowing values are invalid (Spark casts them to null). Fast
      path in float64 with an exact ``decimal``-module recompute for
      elements near a rounding boundary or too large for the float64
      product to be trustworthy. Pinned against Spark's own cast by
      test_decimal_ints_match_spark_cast.
    """
    import numpy as np

    def make_sims(C):
        k, d = C.shape
        sc = np.zeros(k)
        for i in range(d):
            sc = sc + C[:, i] * C[:, i]

        def sims(V):
            m = V.shape[0]
            dot = np.zeros((m, k))
            sa = np.zeros(m)
            for i in range(d):
                xi = V[:, i]
                dot = dot + xi[:, None] * C[None, :, i]
                sa = sa + xi * xi
            return dot / np.sqrt(sa[:, None] * sc[None, :])

        return sims

    def batch_route(pdf, vec_col, sims_fn, dim, n_best=1):
        cells = pdf[vec_col].tolist()
        lens = np.fromiter(
            (len(v) if v is not None else -1 for v in cells),
            dtype=np.int64,
            count=len(cells),
        )
        ok = lens == dim
        V = np.asarray(
            [cells[i] for i in np.flatnonzero(ok)], dtype=np.float64
        ).reshape(-1, dim)
        S = sims_fn(V)
        if n_best == 1:
            return ok, np.argmax(S, axis=1)[:, None], S, V
        nan = np.isnan(S)
        col = np.broadcast_to(np.arange(S.shape[1]), S.shape)
        top = np.lexsort((col, np.where(nan, 0.0, -S), ~nan), axis=1)
        return ok, top[:, :n_best], S, V

    def decimal_ints(V):
        valid = np.isfinite(V) & (np.abs(V) < 1e18)  # decimal(28,10) range
        y = V * 1e10
        fl = np.floor(y)
        frac = y - fl
        base = fl + (frac > 0.5)
        # |y| <= 1e12 keeps the float64 product's absolute error well
        # under 1e-4, so only true near-half-boundary elements are
        # ambiguous
        fast = valid & (np.abs(y) <= 1e12) & (np.abs(frac - 0.5) >= 1e-4)
        ints = np.where(fast, base, 0.0).astype(np.int64)
        big = []  # (i, j, python-int) for values past the int64-safe cap
        slow = valid & ~fast
        if slow.any():
            from decimal import ROUND_HALF_UP, Decimal

            q = Decimal("1e-10")
            for idx in zip(*np.nonzero(slow)):
                v = int(
                    Decimal(repr(float(V[idx])))
                    .quantize(q, rounding=ROUND_HALF_UP)
                    .scaleb(10)
                )
                if abs(v) <= 10**14:
                    ints[idx] = v
                else:
                    # keep the int64 column sums overflow-safe: huge
                    # elements ride a python-int side channel
                    big.append((int(idx[0]), int(idx[1]), v))
                    valid[idx] = False  # excluded from the array sums
        return ints, valid, big

    def chunk_col_sums(ints, valid, chunk=10_000):
        """Exact per-column sums of masked int64 blocks: numpy int64
        partial per chunk (|element| <= 1e14, so a 10k-row chunk stays
        far under 2^63), folded into python ints."""
        m, d = ints.shape
        tot = [0] * d
        cnt = [0] * d
        for lo in range(0, m, chunk):
            hi = min(lo + chunk, m)
            blk = np.where(valid[lo:hi], ints[lo:hi], 0).sum(
                axis=0, dtype=np.int64
            )
            nb = valid[lo:hi].sum(axis=0)
            for j in range(d):
                tot[j] += int(blk[j])
                cnt[j] += int(nb[j])
        return tot, cnt

    return make_sims, batch_route, decimal_ints, chunk_col_sums


def _div_half_up(a: int, b: int) -> int:
    """round(a / b) with ties away from zero (java.math HALF_UP), exact
    integer arithmetic. b > 0."""
    sign = -1 if a < 0 else 1
    q, r = divmod(abs(a), b)
    if 2 * r >= b:
        q += 1
    return sign * q


def _avg_decimal_f32(s: int, n: int) -> float:
    """Replicates ``avg(col.cast("decimal(28,10)")).cast("float")``
    from the exact integer sum ``s`` (1e-10 units) over ``n`` non-null
    elements: the decimal average lands at scale 14 (decimal(32,14),
    HALF_UP — pinned by test_avg_decimal_semantics against Spark), then
    float32. Fraction→float is correctly rounded, matching the JVM's
    decimal→double→float path."""
    from fractions import Fraction

    import numpy as np

    q14 = _div_half_up(s * 10_000, n)
    return float(np.float32(float(Fraction(q14, 10**14))))


def _route_fold(
    vectors: DataFrame,
    C_list: list,
    cids: list,
    id_col: str,
    vec_col: str,
    with_sim: bool = False,
    n_best: int = 1,
) -> DataFrame:
    """The one centroid router: a single ``mapInPandas`` scan giving
    every vector its ``n_best`` nearest centroids by the fold cosine
    (``make_sims`` in :func:`_fold_kernels`), one ``(id, centroid_id
    [, __sim])`` row each, in (sim desc, centroid_id asc) order with
    NaN greatest. Centroids arrive as plain lists (driver-resident,
    metadata-sized), so the scan is the ONLY distributed work: no
    broadcast exchange, no crossJoin, no argmax shuffle. A vector whose
    length differs from the centroids' has no route: it gets ONE row
    with a null ``centroid_id`` (and ``__sim``), and the index writers
    drop it like a zero-norm vector."""
    import numpy as np

    id_type = {
        f.name: f.dataType.simpleString() for f in vectors.schema.fields
    }[id_col]
    schema = f"{id_col} {id_type}, centroid_id int" + (
        ", __sim double" if with_sim else ""
    )
    if not C_list:
        # no centroids (empty corpus): nothing to route to
        return vectors.sparkSession.createDataFrame([], schema)
    C = np.asarray(C_list, dtype=np.float64)
    cid_arr = np.asarray(cids, dtype=np.int64)
    dim = C.shape[1]
    n = min(int(n_best), len(cids))
    make_sims, batch_route = _fold_kernels()[:2]

    def route(batches):
        import numpy as np
        import pandas as pd

        sims_fn = make_sims(C)
        for pdf in batches:
            if not len(pdf):
                continue
            ok, top, S, _ = batch_route(pdf, vec_col, sims_fn, dim, n)
            ids = pdf[id_col].to_numpy()
            out = {
                id_col: np.repeat(ids[ok], n),
                "centroid_id": cid_arr[top].ravel().astype(np.int32),
            }
            if with_sim:
                out["__sim"] = np.take_along_axis(S, top, axis=1).ravel()
            if not ok.all():
                # one null row per unroutable vector — object arrays so
                # the ints stay ints beside the nulls
                bad = ids[~ok]
                out[id_col] = np.concatenate([out[id_col], bad])
                for c in out.keys() - {id_col}:
                    out[c] = np.concatenate(
                        [out[c].astype(object), np.full(len(bad), None)]
                    )
            yield pd.DataFrame(out)

    return vectors.select(id_col, vec_col).mapInPandas(route, schema)


def _refine_arrow(
    corpus: DataFrame,
    C_list: list,
    vec_col: str,
    iters: int,
) -> list:
    """Lloyd refinement with driver-resident centroids: each iteration
    is ONE job — a ``mapInPandas`` scan that routes every vector by the
    fold cosine AND accumulates decimal-exact per-(centroid, dim)
    integer sums/counts as per-task partials (k × dim ints each,
    metadata-sized), collected and folded on the driver with arbitrary-
    precision arithmetic. The means are Spark's
    ``avg(cast(decimal(28,10))).cast("float")`` bit for bit — pinned
    against the expression k-means in ``tests/kmeans_oracle.py``.
    Returns the refined centroid vectors (python lists of float, in
    ``C_list`` order); a centroid with no members / a null-element
    mean / a mean below the ``_dot_exact`` floor keeps its previous
    vector (the documented zero-routing rule)."""
    import numpy as np

    k = len(C_list)
    if k == 0 or iters <= 0:
        return C_list
    dim = len(C_list[0])

    make_sims, batch_route, decimal_ints, chunk_col_sums = _fold_kernels()
    for _ in range(iters):
        C = np.asarray(C_list, dtype=np.float64)

        def one_pass(batches, C=C):
            import numpy as np
            import pandas as pd

            sims_fn = make_sims(C)
            acc_s = [[0] * dim for _ in range(k)]
            acc_n = [[0] * dim for _ in range(k)]
            seen = [False] * k
            for pdf in batches:
                if not len(pdf):
                    continue
                ok, top, _, V = batch_route(pdf, "__v", sims_fn, dim)
                if not ok.any():
                    continue
                best = top[:, 0]
                ints, valid, big = decimal_ints(V)
                for j in range(k):
                    m = best == j
                    if not m.any():
                        continue
                    seen[j] = True
                    sj, nj = chunk_col_sums(ints[m], valid[m])
                    acc_s[j] = [a + b for a, b in zip(acc_s[j], sj)]
                    acc_n[j] = [a + b for a, b in zip(acc_n[j], nj)]
                for i, jdim, v in big:
                    # huge-but-valid decimal elements ride the python-int
                    # side channel: still one non-null value for avg
                    j = int(best[i])
                    seen[j] = True
                    acc_s[j][jdim] += v
                    acc_n[j][jdim] += 1
            yield pd.DataFrame(
                {
                    "cid_idx": [j for j in range(k) if seen[j]],
                    "n": [acc_n[j] for j in range(k) if seen[j]],
                    "s": [[str(v) for v in acc_s[j]] for j in range(k) if seen[j]],
                }
            )

        partials = (
            corpus.select(F.col(vec_col).alias("__v"))
            .mapInPandas(one_pass, "cid_idx int, n array<long>, s array<string>")
            .collect()
        )
        tot_s = [[0] * dim for _ in range(k)]
        tot_n = [[0] * dim for _ in range(k)]
        members = [False] * k
        for row in partials:
            j = row["cid_idx"]
            members[j] = True
            tot_n[j] = [a + b for a, b in zip(tot_n[j], row["n"])]
            tot_s[j] = [a + int(b) for a, b in zip(tot_s[j], row["s"])]
        new_C = []
        for j in range(k):
            if not members[j] or min(tot_n[j]) == 0:
                # no members, or some dim all-null -> null mean element
                # -> null norm: keep the previous vector
                new_C.append(C_list[j])
                continue
            mvec = np.asarray(
                [
                    _avg_decimal_f32(s, n)
                    for s, n in zip(tot_s[j], tot_n[j])
                ],
                dtype=np.float64,
            )
            # l2_norm_exact(__mvec) > 0: sum of floor((x*x)*1e12) >= 1
            if np.floor((mvec * mvec) * DOT_SCALE).sum() == 0:
                new_C.append(C_list[j])
            else:
                new_C.append([float(v) for v in mvec])
        C_list = new_C
    return C_list


def _kmeans(
    nz: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    refine_iters: int,
) -> tuple[list, list]:
    """The package's k-means: collect the deterministic hash-sample
    init (:func:`_centroids`, n_centroids rows — one small job) and
    refine it with driver-resident Lloyd passes (:func:`_refine_arrow`,
    one flat scan-job per iteration). Returns ``(cids, C_list)``,
    cid-ascending, ready for :func:`_route_fold`. ``nz`` must hold
    non-zero vectors only (cosine is undefined at zero)."""
    cids, C_list = _centroid_lists(
        _centroids(nz, n_centroids, id_col, vec_col).collect()
    )
    return cids, _refine_arrow(nz, C_list, vec_col, refine_iters)


def _centroid_lists(rows: list) -> tuple[list, list]:
    """``(centroid_id, __cvec)`` rows → cid-ascending ``(cids, C_list)``."""
    rows = sorted(rows, key=lambda r: r["centroid_id"])
    return (
        [int(r["centroid_id"]) for r in rows],
        [list(r["__cvec"]) for r in rows],
    )


def _ivf_rows(
    nz: DataFrame, C_list: list, cids: list, id_col: str, vec_col: str
) -> DataFrame:
    """``(id, vector, centroid_id)`` inverted-list rows: ``nz`` routed
    to its nearest centroid. A vector with no route (wrong length) is
    not indexed, like a zero-norm one."""
    assign = _route_fold(nz, C_list, cids, id_col, vec_col).filter(
        F.col("centroid_id").isNotNull()
    )
    return nz.join(assign, id_col).select(
        F.col(id_col), F.col(vec_col), F.col("centroid_id")
    )


def _load_centroids(spark, index_path: str) -> tuple[list, list]:
    """``(cids, C_list)`` of a built IVF index's frozen quantizer, read
    from ``<index>_centroids``. A missing file is a ValueError naming
    the fix; any other read error (a corrupt file) surfaces as is."""
    from pyspark.errors import AnalysisException

    cent_path = index_path + "_centroids"
    try:
        cents = spark.read.parquet(cent_path)
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        raise ValueError(
            f"no IVF centroids at {cent_path}; ivf_build_index first"
        ) from exc
    return _centroid_lists(cents.collect())


def ivf_build_index(
    corpus: DataFrame,
    index_path: str,
    n_centroids: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> None:
    """IVF index build: each corpus vector is assigned to its nearest
    centroid (one routing scan) and the corpus lands partitioned by
    ``centroid_id``. Complementary to the LSH index: IVF partitions
    follow the data's own geometry, so probe cost scales with nprobe/
    n_centroids of the corpus rather than bucket occupancy. The
    centroids land beside it as ``<index>_centroids``
    (``centroid_id int, __cvec <vector type>``).

    ``refine_iters`` runs that many Lloyd (k-means) iterations over the
    hash-sample init before assignment — centroids move to member means,
    which tightens clusters and raises recall at equal nprobe. Each
    iteration is one scan-job over the corpus at build time with the
    centroids held on the driver (:func:`_kmeans`), so the written
    relation's plan is the same at any ``refine_iters``; query cost is
    unchanged. Default 0 keeps the build a single pass (and
    bit-reproducible against older indexes).
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    nz = corpus.filter(l2_norm_exact(F.col(vec_col)) > 0)
    cids, C_list = _kmeans(nz, n_centroids, id_col, vec_col, refine_iters)
    (
        _ivf_rows(nz, C_list, cids, id_col, vec_col)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(index_path)
    )
    schema = StructType([
        StructField("centroid_id", IntegerType(), False),
        StructField("__cvec", nz.schema[vec_col].dataType),
    ])
    corpus.sparkSession.createDataFrame(
        list(zip(cids, C_list)), schema
    ).write.mode("overwrite").parquet(index_path + "_centroids")


def ivf_index_append(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance: route new vectors to the EXISTING
    centroids and append to their partitions. The coarse quantizer is
    frozen after build (standard IVF practice — inverted lists grow,
    centroids don't move), so old and new vectors share one geometry and
    every query property (nprobe pruning, the nprobe == n_centroids
    exact degeneracy) holds over the unioned corpus. O(new vectors) per
    refresh; rebuild when drift makes the frozen quantizer a bad fit.
    """
    cids, C_list = _load_centroids(new_vectors.sparkSession, index_path)
    nz = new_vectors.filter(l2_norm_exact(F.col(vec_col)) > 0)
    (
        _ivf_rows(nz, C_list, cids, id_col, vec_col)
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(index_path)
    )


def ivf_index_refresh_from_txtable(
    spark,
    index_path: str,
    table_root: str,
    since_version: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int]:
    """CDC-driven IVF index maintenance — the inverted-list analog of
    :func:`ann_index_refresh_from_txtable`: the coarse quantizer is
    FROZEN after build (the append contract), so an update/delete
    PREIMAGE vector routes to exactly the inverted list its stale row
    lives in — one routing scan over the feed names every touched
    ``centroid_id`` partition, no index scan. Same rewrite mechanics
    (partition-pruned read of touched lists, survivors minus stale AND
    fresh keys so replays converge, dynamic overwrite, drained-list
    directory removal). Zero-norm vectors never index, matching build/
    append.

    Cost: O(changed buckets) for the diff + O(touched inverted lists)
    rewritten. Returns ``(vectors_refreshed, consumed_version)`` —
    persist the version as the consumer watermark; same-version call
    is a no-op."""
    from ..sinks.txlog import _latest_manifest, txtable_changes

    manifest = _latest_manifest(spark, table_root)
    if manifest is None:
        raise FileNotFoundError(f"no committed txtable at {table_root}")
    latest = manifest["version"]
    if since_version >= latest:
        return 0, latest
    feed = txtable_changes(
        spark, table_root, since_version, latest, include_preimages=True
    )
    n = apply_index_changes(
        spark, index_path, feed, kind="ivf", id_col=id_col, vec_col=vec_col
    )
    return n, latest


def ivf_query(
    spark,
    index_path: str,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """IVF probe: rank centroids per probe, read ONLY the nprobe best
    partitions (partition pruning on centroid_id), exact-cosine re-rank.
    Recall rises with nprobe; nprobe == n_centroids degenerates to the
    exact scan. A probe of the wrong length has no route and no rows."""
    cids, C_list = _load_centroids(spark, index_path)
    p = probes.select(
        F.col(probe_id_col).alias("__pid"),
        F.col(vec_col).alias("__pvec"),
        l2_norm_exact(F.col(vec_col)).alias("__pnorm"),
    ).filter(F.col("__pnorm") > 0)
    route = _route_fold(
        p.select(F.col("__pid"), F.col("__pvec").alias(vec_col)),
        C_list,
        cids,
        "__pid",
        vec_col,
        n_best=nprobe,
    ).filter(F.col("centroid_id").isNotNull())
    wanted = sorted({r["centroid_id"] for r in route.collect()})
    index = spark.read.parquet(index_path).filter(
        F.col("centroid_id").isin(wanted)
    )
    cand = (
        index.join(F.broadcast(route), "centroid_id")
        .join(F.broadcast(p), "__pid")
        .filter(F.col(id_col) != F.col("__pid"))
        .dropDuplicates(["__pid", id_col])
    )
    scored = cand.select(
        F.col("__pid").alias(probe_id_col),
        F.col(id_col),
        (
            _dot_exact(F.col("__pvec"), F.col(vec_col))
            / (F.col("__pnorm") * l2_norm_exact(F.col(vec_col)))
        ).alias("cosine"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# --- embedding-cosine near-duplicate pairs --------------------------------


def cosine_near_dup_exact(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every unordered pair (id_a < id_b) whose exact cosine reaches
    ``threshold`` — the embedding-space analog of the exact Jaccard join
    (north-star dedup list: "embedding-cosine near-dup").

    This is the O(n²) correctness tier and the oracle anchor for
    :func:`cosine_near_dup_lsh`: the decimal-exact cosine makes the
    result bit-identical to a single-threaded engine, so it is
    DuckDB-checkable. Norms are computed once per side below the join
    boundary; each surviving pair costs one dot-product fold. Use the
    LSH tier when n² pair enumeration is off the table.
    """
    def side(suffix: str) -> DataFrame:
        return corpus.select(
            F.col(id_col).alias(f"id_{suffix}"),
            F.col(vec_col).alias(f"__v{suffix}"),
            l2_norm_exact(F.col(vec_col)).alias(f"__n{suffix}"),
        ).filter(F.col(f"__n{suffix}") > 0)

    return (
        side("a")
        .join(side("b"), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                _dot_exact(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def cosine_near_dup_lsh(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 8,
) -> DataFrame:
    """Scale tier: candidate pairs must share one of ``num_tables``
    random-hyperplane signatures; survivors get the exact-cosine verify,
    so precision is exact and only recall is probabilistic.

    For a pair at cosine s, one p-plane table collides with probability
    (1 − acos(s)/π)^p; across T tables recall is 1 − (1 − that)^T —
    ≈0.998 at s=0.9 with the default p=4, T=8, and →1 as s→1 (a scaled
    copy has the identical signature in every table). Hyperplane LSH
    prunes hard only for high-similarity pairs; for low thresholds
    (<0.5) drop ``num_planes`` or use the exact tier.

    Shuffle shape: the corpus is signed in ONE scan (signatures are
    literal-weight folds, no stored model), exploded to (table, bucket)
    keys, and self-joined per bucket — candidates are bounded by bucket
    occupancy, never all-pairs. A pair colliding in several tables is
    deduplicated before the verify so the exact cosine runs once per
    candidate pair.
    """
    signed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm_exact(F.col(vec_col)).alias("__norm"),
        *[
            hyperplane_signature(F.col(vec_col), num_planes, seed=1000 + t).alias(f"sig_{t}")
            for t in range(num_tables)
        ],
    ).filter(F.col("__norm") > 0)
    melted = signed.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__norm"),
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tbl"), F.col(f"sig_{t}").alias("bucket"))
                for t in range(num_tables)
            ])
        ).alias("tb"),
    ).select(
        F.col(id_col), F.col(vec_col), F.col("__norm"),
        F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
    )
    a = melted.select(
        F.col("tbl"), F.col("bucket"),
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
        F.col("__norm").alias("__na"),
    )
    b = melted.select(
        F.col("tbl"), F.col("bucket"),
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    cand = (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a",
        "id_b",
        (
            _dot_exact(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
        ).alias("cosine"),
    ).filter(F.col("cosine") >= F.lit(threshold))


# --- k-means corpus clustering -------------------------------------------


def cluster_embeddings(
    corpus: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 5,
) -> DataFrame:
    """K-means clustering of an embedding column — the corpus-curation
    primitive behind topic bucketing, domain-mixture analysis, and
    cluster-stratified sampling of a training set (the role clustering
    plays in dataset-curation pipelines: group semantically, then
    inspect/sample/reweight per group).

    The IVF k-means end to end (:func:`_kmeans`): deterministic
    hash-sample init (reproducible across runs), ``refine_iters`` Lloyd
    iterations with decimal-exact MEANS (order-independent under
    parallel aggregation) and deterministic fold-cosine ROUTING
    (partition-independent), one assign scan (:func:`_route_fold`).
    Zero-norm vectors — where cosine is undefined — are excluded, like
    the IVF build. Returns one row per assigned vector: ``(id_col,
    cluster_id, sim)`` with ``sim`` the double cosine to the winning
    centroid; a vector of the wrong length gets a null cluster and sim.

    Scale shape: centroids are n_clusters × dim and live on the driver;
    every Lloyd pass is ONE flat scan-job whose per-task partials are
    n_clusters × dim integers (no all-pairs anywhere, no shuffle). 100×
    corpus = 100× scan, same partials.
    """
    nz = corpus.filter(l2_norm_exact(F.col(vec_col)) > 0)
    cids, C_list = _kmeans(nz, n_clusters, id_col, vec_col, refine_iters)
    return _route_fold(
        nz, C_list, cids, id_col, vec_col, with_sim=True
    ).select(
        id_col,
        F.col("centroid_id").alias("cluster_id"),
        F.col("__sim").alias("sim"),
    )


def cluster_summary(assignments: DataFrame) -> DataFrame:
    """Per-cluster curation report over :func:`cluster_embeddings`
    output: member count, mean/min cosine to centroid (cohesion), and
    the member share — the table a data-mixing pass reads to decide
    which semantic buckets to up/down-sample. One grouped pass plus a
    broadcast total."""
    totals = assignments.agg(F.count(F.lit(1)).alias("__n_total"))
    return (
        assignments.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.avg("sim").alias("mean_sim"),
            F.min("sim").alias("min_sim"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "cluster_id",
            "n_members",
            "mean_sim",
            "min_sim",
            (F.col("n_members") / F.col("__n_total")).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the embedding STORAGE scale tier.
# ---------------------------------------------------------------------------
#
# Exact vectors at 100 TB are the cost problem ANN alone doesn't solve: a
# 1024-dim float32 embedding is 4 KB/row, so a trillion-row corpus carries
# 4 PB of vectors through every scan. PQ (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011 — public paper)
# splits each L2-normalized vector into m subvectors, vector-quantizes each
# against a per-subspace codebook of k centroids, and stores only the m
# code bytes: 4KB -> 16 bytes at m=16 (256x). Search never reconstructs:
# ADC (asymmetric distance computation) builds, per probe, an m x k lookup
# table of probe-subvector . centroid inner products, and scores a stored
# code as the sum of m table lookups — one numpy gather per subspace per
# Arrow batch.
#
# Spark shape mirrors knn_numpy: training is bounded by a deterministic
# hash-ordered sample (corpus-size-independent, the FAISS practice),
# encoding is one map-only mapInPandas scan, search is one scan of the
# CODES (the 256x-smaller relation) emitting per-batch top-k, global top-k
# by window — shuffle carries O(batches x probes x k), never the corpus.


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 256,
    sample_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 15,
    seed: int = 42,
) -> dict:
    """Train per-subspace codebooks on a deterministic hash-ordered
    sample (``sample_rows`` caps driver/CPU cost regardless of corpus
    size). Vectors are L2-normalized before splitting, so ADC inner
    product approximates cosine. Returns a plain-dict model
    ``{m, k, dim, codebooks}`` (JSON-serializable lists) usable across
    sessions. Deterministic for a fixed (corpus, params, seed)."""
    import numpy as np

    sample = (
        corpus.select(id_col, vec_col)
        .where(l2_norm_exact(F.col(vec_col)) > 0)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(int(sample_rows))
        .select(vec_col)
        .collect()
    )
    X = np.asarray([r[0] for r in sample], dtype=np.float64)
    if X.ndim != 2 or not len(X):
        raise ValueError("pq_train: empty or ragged embedding sample")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    dsub = dim // m
    k_eff = min(int(k), len(X))
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        # k-means++ seeding, then Lloyd — plain numpy on the sample
        cent = S[rng.choice(len(S), 1)]
        for _ in range(k_eff - 1):
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(-1).min(1)
            p = d2 / d2.sum() if d2.sum() > 0 else None
            cent = np.vstack([cent, S[rng.choice(len(S), 1, p=p)]])
        for _ in range(iters):
            a = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(k_eff):
                mask = a == c
                if mask.any():
                    cent[c] = S[mask].mean(0)
        books.append(cent.tolist())
    return {"m": int(m), "k": k_eff, "dim": int(dim), "codebooks": books}


def pq_encode(
    corpus: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only encode: each vector L2-normalized, split into m
    subvectors, each assigned its nearest codebook centroid; the m code
    bytes land in one BINARY column (the 256x-smaller relation that
    replaces the vectors in the search scan). Zero-norm vectors are
    excluded (cosine-undefined, matching every other tier). No shuffle,
    no driver data."""
    import numpy as np
    import pandas as pd

    books = np.asarray(model["codebooks"], dtype=np.float64)  # m,k,dsub
    m, dim = model["m"], model["dim"]
    dsub = dim // m

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            nrm = np.linalg.norm(X, axis=1)
            ok = nrm > 0
            X, ids = X[ok] / nrm[ok, None], ids[ok]
            if not len(ids):
                continue
            codes = np.empty((len(ids), m), dtype=np.uint8)
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                # ||s-c||^2 = ||s||^2 - 2 s.c + ||c||^2; argmin drops ||s||^2
                d = -2.0 * (S @ books[j].T) + (books[j] ** 2).sum(1)[None, :]
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame(
                {id_col: ids, "pq_code": [c.tobytes() for c in codes]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, pq_code binary"
    )


def pq_search(
    codes: DataFrame,
    probes_pdf,
    model: dict,
    k: int = 5,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over the code relation: per probe an m x k lookup table
    of probe-subvector . centroid inner products (numpy, driver-built,
    rides as a plan literal like knn_numpy's probe matrix); scoring a
    code batch is m uint8 gathers + adds — no reconstruction, no
    vectors read. Emits k rows per probe per batch; global top-k via
    window, so the shuffle carries O(batches x probes x k). Scores are
    approximate cosine (probes exactly, corpus by its nearest-centroid
    proxy)."""
    import numpy as np
    import pandas as pd

    books = np.asarray(model["codebooks"], dtype=np.float64)  # m,k,dsub
    m, dim = model["m"], model["dim"]
    dsub = dim // m
    pmat = np.asarray(list(probes_pdf[vec_col]), dtype=np.float64)
    pids = np.asarray(list(probes_pdf[probe_id_col]))
    pnorm = np.linalg.norm(pmat, axis=1)
    keep = pnorm > 0
    pmat, pids = pmat[keep] / pnorm[keep, None], pids[keep]
    # LUT[p, j, c] = probe_p's j-th subvector . centroid c of book j
    lut = np.einsum("pjd,jcd->pjc", pmat.reshape(len(pmat), m, dsub), books)
    kk = int(k)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy()
            cmat = np.frombuffer(
                b"".join(pdf["pq_code"]), dtype=np.uint8
            ).reshape(len(cids), m)
            sims = np.zeros((len(cids), len(pids)))
            for j in range(m):
                sims += lut[:, j, :][:, cmat[:, j]].T  # batch x probes
            for p in range(len(pids)):
                col = sims[:, p]
                mask = cids != pids[p]
                idx = np.nonzero(mask)[0]
                if not len(idx):
                    continue
                take = min(kk, len(idx))
                top = idx[np.argpartition(-col[idx], take - 1)[:take]]
                yield pd.DataFrame(
                    {
                        probe_id_col: pids[p].repeat(take),
                        id_col: cids[top],
                        "adc_score": col[top],
                    }
                )

    partial = codes.select(id_col, "pq_code").mapInPandas(
        score, f"{probe_id_col} long, {id_col} long, adc_score double"
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    return partial.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): the 4x vector-storage tier.
# ---------------------------------------------------------------------------
#
# The near-lossless companion to PQ above (FAISS's SQ8 recipe, public):
# per-dimension uniform quantization of the L2-normalized corpus to one
# byte — 4 KB float32 vectors become d bytes with reconstruction error
# <= scale/2 per dimension, which for normalized embeddings is visually
# lossless for search (recall@k near 1). Where PQ trades accuracy for
# 16-32x, SQ8 keeps a calibrated 4x. Search never materializes the
# reconstruction: dot(p, lo + code*scale) = p.lo + code.(p*scale), one
# uint8 matmul per Arrow batch against a probe-side precomputed matrix.


def sq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> dict:
    """Per-dimension [lo, hi] calibration over the L2-NORMALIZED corpus
    — one scan of 2xd-float partials per partition (mapInPandas, the
    PCA-fit shape: partial size independent of row count). Returns
    ``{dim, lo: [d], scale: [d]}`` with scale = (hi-lo)/255 (0 for a
    constant dimension — its byte is always 0 and reconstructs lo
    exactly)."""
    import numpy as np

    def partials(batches):
        import pandas as pd

        lo = hi = None
        for pdf in batches:
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            if not X.size:
                continue
            nrm = np.linalg.norm(X, axis=1)
            X = X[nrm > 0] / nrm[nrm > 0, None]
            if not len(X):
                continue
            blo, bhi = X.min(0), X.max(0)
            lo = blo if lo is None else np.minimum(lo, blo)
            hi = bhi if hi is None else np.maximum(hi, bhi)
        if lo is not None:
            yield pd.DataFrame({"lo": [lo.tolist()], "hi": [hi.tolist()]})

    rows = corpus.select(vec_col).mapInPandas(
        partials, "lo array<double>, hi array<double>"
    ).collect()
    if not rows:
        raise ValueError("sq_train: empty corpus")
    lo = np.asarray(rows[0]["lo"])
    hi = np.asarray(rows[0]["hi"])
    for r in rows[1:]:
        lo = np.minimum(lo, np.asarray(r["lo"]))
        hi = np.maximum(hi, np.asarray(r["hi"]))
    return {
        "dim": int(len(lo)),
        "lo": lo.tolist(),
        "scale": ((hi - lo) / 255.0).tolist(),
    }


def sq_encode(
    corpus: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only encode to one byte per dimension:
    ``code = round((x_norm - lo) / scale)`` clipped to [0, 255].
    Zero-norm vectors are excluded (cosine-undefined, like every other
    tier). Out-of-calibration values (vectors arriving after training)
    clip to the range edge — bounded error, never a crash."""
    import numpy as np
    import pandas as pd

    lo = np.asarray(model["lo"])
    scale = np.asarray(model["scale"])
    safe = np.where(scale > 0, scale, 1.0)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            nrm = np.linalg.norm(X, axis=1)
            ok = nrm > 0
            X, ids = X[ok] / nrm[ok, None], ids[ok]
            if not len(ids):
                continue
            q = np.clip(np.rint((X - lo) / safe), 0, 255).astype(np.uint8)
            q[:, scale <= 0] = 0
            yield pd.DataFrame(
                {id_col: ids, "sq_code": [c.tobytes() for c in q]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, sq_code binary"
    )


def sq_search(
    codes: DataFrame,
    probes_pdf,
    model: dict,
    k: int = 5,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate-cosine top-k over the byte relation: per batch ONE
    uint8→float matmul ``codes @ (P*scale)ᵀ + P@lo`` (the expanded
    dot against the implicit reconstruction — vectors never rebuilt),
    per-batch top-k, global top-k by window: shuffle carries
    O(batches × probes × k), the corpus stays in its 4x-smaller
    codes."""
    import numpy as np
    import pandas as pd

    lo = np.asarray(model["lo"])
    scale = np.asarray(model["scale"])
    P = np.asarray(list(probes_pdf[vec_col]), dtype=np.float64)
    pids = np.asarray(list(probes_pdf[probe_id_col]))
    pn = np.linalg.norm(P, axis=1)
    P, pids = P[pn > 0] / pn[pn > 0, None], pids[pn > 0]
    W = (P * scale).T  # d x p
    const = P @ lo  # p
    kk = int(k)
    dim = model["dim"]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy()
            C = np.frombuffer(
                b"".join(pdf["sq_code"]), dtype=np.uint8
            ).reshape(len(cids), dim)
            sims = C.astype(np.float64) @ W + const[None, :]
            for p in range(len(pids)):
                col = sims[:, p]
                idx = np.nonzero(cids != pids[p])[0]
                if not len(idx):
                    continue
                take = min(kk, len(idx))
                top = idx[np.argpartition(-col[idx], take - 1)[:take]]
                yield pd.DataFrame(
                    {
                        probe_id_col: pids[p].repeat(take),
                        id_col: cids[top],
                        "sq_score": col[top],
                    }
                )

    partial = codes.select(id_col, "sq_code").mapInPandas(
        score, f"{probe_id_col} long, {id_col} long, sq_score double"
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("sq_score").desc(), F.col(id_col)
    )
    return partial.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def knn_exact_fast(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    margin: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    eps: float = 1e-6,
) -> DataFrame:
    """``knn_exact``'s results at near-``knn_numpy`` cost — bit-exact
    UNCONDITIONALLY, via a certified prefilter:

    1. float64 BLAS top-(k+margin) per probe (``knn_numpy`` — one
       matmul per Arrow batch instead of a per-pair codegen fold);
    2. decimal-exact rescore of ONLY those candidates (the heavy
       ``cosine_exact`` expression runs on (k+margin)×probes rows, not
       corpus×probes — one broadcast-candidates join against the
       corpus);
    3. a per-probe CERTIFICATE: every excluded pair's float score is ≤
       the candidate set's minimum float score, and float and exact
       scores differ by < ``eps`` (float64 rounding ~1e-15 plus the
       1e-12 floor-scale truncation — 1e-6 is orders-of-magnitude
       slack), so if the k-th exact candidate score exceeds
       ``min_float + eps`` no excluded pair can reach the top-k. A
       probe holding fewer than k+margin candidates owns its whole
       pair set and passes vacuously.

    Probes that FAIL the certificate (≥margin degenerate near-ties at
    the boundary — e.g. a corpus of identical vectors) fall back to the
    full ``knn_exact`` tier for just those probes, so the composed
    result equals ``knn_exact`` by construction, not merely with high
    probability.

    Execution shape: exactly TWO corpus scans of cheap math (matmul;
    broadcast-join rescore) instead of one scan of O(d)-per-pair
    decimal folds. The candidate and rescore relations are
    (k+margin)×probes rows — metadata-sized by the same contract that
    broadcasts the probes — so ranking and certification run
    driver-side without re-executing either scan, and the result
    returns as a literal DataFrame (scores bit-preserved float64).
    Measured at sf0.1 / 100 probes: ~0.6s vs the pure tier's ~1.5s."""
    import pandas as pd

    probes_clean = probes.select(F.col(probe_id_col), F.col(vec_col))
    probes_pdf = probes_clean.toPandas()  # metadata-sized by contract
    spark = corpus.sparkSession
    empty = spark.createDataFrame(
        [], f"{probe_id_col} long, {id_col} long, cosine double, rank long"
    )
    if not len(probes_pdf):
        return empty
    cands_pdf = knn_numpy(
        corpus,
        probes_pdf,
        k=k + margin,
        id_col=id_col,
        vec_col=vec_col,
        probe_id_col=probe_id_col,
    ).toPandas()  # corpus scan 1 (BLAS); result is (k+margin)×probes rows
    if not len(cands_pdf):
        return empty
    cands_lit = F.broadcast(
        spark.createDataFrame(cands_pdf[[probe_id_col, id_col]])
    )
    probe_vec = F.broadcast(
        probes_clean.select(
            F.col(probe_id_col), F.col(vec_col).alias("__pvec")
        )
    )
    rescored = (
        cands_lit.join(
            corpus.select(F.col(id_col), F.col(vec_col).alias("__cvec")),
            id_col,
        )
        .join(probe_vec, probe_id_col)
        .select(
            probe_id_col,
            id_col,
            cosine_exact(F.col("__pvec"), F.col("__cvec")).alias("cosine"),
        )
        .toPandas()  # corpus scan 2 (broadcast join, exact math on candidates)
    )
    merged = rescored.merge(
        cands_pdf[[probe_id_col, id_col, "cosine"]].rename(
            columns={"cosine": "__fscore"}
        ),
        on=[probe_id_col, id_col],
    )
    merged = merged.sort_values(
        [probe_id_col, "cosine", id_col], ascending=[True, False, True]
    )
    merged["rank"] = merged.groupby(probe_id_col).cumcount() + 1
    failing = []
    fast_rows = []
    for pid, grp in merged.groupby(probe_id_col, sort=False):
        ncand = len(grp)
        kth = grp.loc[grp["rank"] == k, "cosine"]
        certified = (
            ncand < k + margin
            or kth.empty
            or float(kth.iloc[0]) > float(grp["__fscore"].min()) + eps
        )
        if certified:
            fast_rows.append(grp[grp["rank"] <= k])
        else:
            failing.append(pid)
    fast = (
        spark.createDataFrame(
            pd.concat(fast_rows)[[probe_id_col, id_col, "cosine", "rank"]]
        )
        if fast_rows
        else empty
    )
    if not failing:
        return fast
    slow = knn_exact(
        corpus,
        probes_clean.filter(F.col(probe_id_col).isin(failing)),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        probe_id_col=probe_id_col,
    )
    return fast.unionByName(slow)


# ---------------------------------------------------------------------------
# IVF-PQ: the composed production ANN architecture (FAISS IVFADC,
# Jégou et al. 2011): a coarse quantizer routes vectors to inverted
# lists; PQ codes encode each vector's RESIDUAL from its centroid
# (residuals are small and centered, so the same code budget carries
# far more precision than coding raw vectors); search probes nprobe
# lists and ADC-scores codes only. Storage = m bytes + 1 small int per
# vector; query cost = (nprobe / n_centroids) of the code relation.
# ---------------------------------------------------------------------------


def ivfpq_build_index(
    corpus: DataFrame,
    index_path: str,
    n_centroids: int = 64,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 2,
    sample_rows: int = 4096,
) -> None:
    """Build: coarse centroids (hash-sample + Lloyd refinement, the IVF
    k-means :func:`_kmeans`) → one routing scan → residual PQ codebooks
    trained on a deterministic residual sample → map-only residual
    encode. Codes land partitioned by ``centroid_id`` (probe pruning =
    partition pruning); centroids and the PQ model persist beside them.
    Every stage is a scan or a map — nothing corpus-sized reaches the
    driver except the ``sample_rows``-capped training sample."""
    import json as _json

    import numpy as np

    nz = corpus.filter(l2_norm_exact(F.col(vec_col)) > 0)
    cids, C_list = _kmeans(nz, n_centroids, id_col, vec_col, refine_iters)
    cmat = np.asarray(C_list, dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    cid_to_row = {c: i for i, c in enumerate(cids)}
    dim = cmat.shape[1]
    if dim % m:
        raise ValueError(f"ivfpq: dim {dim} not divisible by m={m}")
    with_cid = _ivf_rows(nz, C_list, cids, id_col, vec_col)

    # residual sample for codebook training (hash-ordered, capped)
    sample = (
        with_cid.withColumn("__r", F.xxhash64(F.col(id_col)))
        .orderBy("__r")
        .limit(int(sample_rows))
        .select(vec_col, "centroid_id")
        .collect()
    )
    X = np.asarray([r[0] for r in sample], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    R = X - cmat[[cid_to_row[int(r[1])] for r in sample]]
    model = _pq_fit_numpy(R, m=m, k=k)
    model["centroid_ids"] = cids
    model["centroids"] = cmat.tolist()

    import pandas as pd

    books = np.asarray(model["codebooks"], dtype=np.float64)
    dsub = dim // m

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Xb = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            cid = pdf["centroid_id"].to_numpy()
            nrm = np.linalg.norm(Xb, axis=1)
            ok = nrm > 0
            Xb, ids, cid = Xb[ok] / nrm[ok, None], ids[ok], cid[ok]
            if not len(ids):
                continue
            Rb = Xb - cmat[[cid_to_row[int(c)] for c in cid]]
            codes = np.empty((len(ids), m), dtype=np.uint8)
            for j in range(m):
                S = Rb[:, j * dsub : (j + 1) * dsub]
                d = -2.0 * (S @ books[j].T) + (books[j] ** 2).sum(1)[None, :]
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "centroid_id": cid,
                    "pq_code": [c.tobytes() for c in codes],
                }
            )

    (
        with_cid.mapInPandas(
            encode, f"{id_col} long, centroid_id int, pq_code binary"
        )
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(index_path)
    )
    with open(index_path.rstrip("/") + "_ivfpq.json", "w") as f:
        _json.dump(model, f)


def _pq_fit_numpy(R, m: int, k: int, iters: int = 15, seed: int = 42) -> dict:
    """k-means++ + Lloyd per subspace over a residual matrix — the
    numpy core shared with ``pq_train`` (which fits raw vectors)."""
    import numpy as np

    dim = R.shape[1]
    dsub = dim // m
    k_eff = min(int(k), len(R))
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = R[:, j * dsub : (j + 1) * dsub]
        cent = S[rng.choice(len(S), 1)]
        for _ in range(k_eff - 1):
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(-1).min(1)
            p = d2 / d2.sum() if d2.sum() > 0 else None
            cent = np.vstack([cent, S[rng.choice(len(S), 1, p=p)]])
        for _ in range(iters):
            d = -2.0 * (S @ cent.T) + (cent**2).sum(1)[None, :]
            a = d.argmin(1)
            for c in range(len(cent)):
                mask = a == c
                if mask.any():
                    cent[c] = S[mask].mean(0)
        books.append(cent.tolist())
    return {"m": m, "k": k_eff, "dim": dim, "codebooks": books}


def ivfpq_search(
    spark,
    index_path: str,
    probes_pdf,
    k: int = 5,
    nprobe: int = 8,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC query: each probe picks its ``nprobe`` nearest centroids
    (driver numpy over the small centroid matrix), the scan reads ONLY
    those partitions (one isin filter on the partition column → parquet
    partition pruning), and scoring is
    ``probe·centroid + Σ_j LUT[probe][j][code]`` — the exact inner
    product against each vector's quantized reconstruction, m uint8
    gathers per row, no vectors read. Global top-k via window; shuffle
    carries O(batches × probes × k)."""
    import json as _json

    import numpy as np
    import pandas as pd

    with open(index_path.rstrip("/") + "_ivfpq.json") as f:
        model = _json.load(f)
    books = np.asarray(model["codebooks"], dtype=np.float64)
    cmat = np.asarray(model["centroids"], dtype=np.float64)
    cent_ids = np.asarray(model["centroid_ids"])
    m, dim = model["m"], model["dim"]
    dsub = dim // m

    pmat = np.asarray(list(probes_pdf[vec_col]), dtype=np.float64)
    pids = np.asarray(list(probes_pdf[probe_id_col]))
    pnorm = np.linalg.norm(pmat, axis=1)
    keep = pnorm > 0
    pmat, pids = pmat[keep] / pnorm[keep, None], pids[keep]
    # probe → nprobe nearest centroids, by inner product (unit probes)
    pc = pmat @ cmat.T  # probes × centroids
    np_eff = min(int(nprobe), cmat.shape[0])
    probe_rows = np.argpartition(-pc, np_eff - 1, axis=1)[:, :np_eff]
    probed_cids = {
        int(cent_ids[c]) for row in probe_rows for c in row
    }
    # residual LUT: probe's j-th subvector · residual-codebook centroids
    lut = np.einsum(
        "pjd,jcd->pjc", pmat.reshape(len(pmat), m, dsub), books
    )
    allowed = np.zeros((len(pids), cmat.shape[0]), dtype=bool)
    for p in range(len(pids)):
        allowed[p, probe_rows[p]] = True
    cid_to_row = {int(c): i for i, c in enumerate(cent_ids)}
    kk = int(k)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            rowc = np.asarray(
                [cid_to_row[int(c)] for c in pdf["centroid_id"]]
            )
            codes = np.frombuffer(
                b"".join(pdf["pq_code"]), dtype=np.uint8
            ).reshape(len(ids), m)
            sims = pc[:, rowc].copy()  # probes × rows: probe·centroid
            for j in range(m):
                sims += lut[:, j, :][:, codes[:, j]]
            sims = np.where(allowed[:, rowc], sims, -np.inf)
            for p in range(len(pids)):
                col = sims[p]
                idx = np.nonzero(np.isfinite(col) & (ids != pids[p]))[0]
                if not len(idx):
                    continue
                take = min(kk, len(idx))
                top = idx[np.argpartition(-col[idx], take - 1)[:take]]
                yield pd.DataFrame(
                    {
                        probe_id_col: pids[p].repeat(take),
                        id_col: ids[top],
                        "adc_score": col[top],
                    }
                )

    codes = spark.read.parquet(index_path).filter(
        F.col("centroid_id").isin([int(c) for c in probed_cids])
    )
    partial = codes.select(id_col, "centroid_id", "pq_code").mapInPandas(
        score, f"{probe_id_col} long, {id_col} long, adc_score double"
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    return partial.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


# --- SemDeDup: semantic deduplication via cluster-then-prune ---------------


def semantic_dedup_pairs(
    corpus: DataFrame,
    eps: float = 0.05,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 5,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Within-cluster semantic-duplicate pairs, the SemDeDup blocking
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication" — public paper): k-means the
    embeddings, then enumerate pairs ONLY within a cluster and keep
    those with cosine >= 1 - eps. Returns ``(id_a, id_b, cosine)``
    with ``id_a < id_b``; ``cosine`` is float64 rounded to 9 decimals
    (the paper's verify is float — the decimal-exact tier stays
    available as :func:`cosine_near_dup_exact` where an oracle needs
    bit-parity). Pass ``assignments`` (a :func:`cluster_embeddings`
    result) to reuse an existing clustering.

    The verify is ONE grouped Arrow batch per cluster: it computes the
    whole gram matrix ``V·Vᵀ`` in BLAS and emits only the
    above-threshold upper triangle, so the pair relation never
    materializes — each vector ships ONCE per cluster instead of once
    per candidate pair, and the Σ|C|²·d multiplies are BLAS. Memory per
    task is O(|C|²) for the mask, bounded by scaling ``n_clusters`` with
    the corpus. Rounding to 9 decimals keeps the THRESHOLD stable
    against summation-order ulps (the MAD/radius operators' convention);
    the pair set and cosines are pinned against an expression-fold
    verify over the cluster equi-join in ``tests/kmeans_oracle.py``.

    Compared to the LSH near-dup tier this trades probabilistic recall
    for the paper's semantic blocking: recall is exact WITHIN clusters
    (misses only straddling pairs, which shrink as clusters grow), and
    the clusters themselves are reusable curation artifacts.

    Scale shape: the paper's own design point — all-pairs is confined
    to each cluster (sum of |C_i|^2, not n^2; clusters are ~n/k) and
    the verify runs only on co-clustered vectors. At 100 TB,
    ``n_clusters`` scales with the corpus so cluster occupancy stays
    bounded.
    """
    import numpy as np

    if not 0.0 <= eps < 1.0:
        raise ValueError(f"eps must be in [0, 1), got {eps}")
    if assignments is None:
        assignments = cluster_embeddings(
            corpus, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col,
            refine_iters=refine_iters,
        )
    assign = assignments.select(id_col, "cluster_id")
    member = corpus.join(assign, id_col).select(
        F.col("cluster_id"),
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
        F.sqrt(
            F.aggregate(
                F.transform(F.col(vec_col).cast("array<double>"),
                            lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("__n"),
    ).filter(F.col("__n") > 0)
    id_type = dict(zip(corpus.columns, [f.dataType.simpleString() for f in corpus.schema.fields]))[id_col]
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    threshold = 1.0 - eps

    def gram(pdf):
        import pandas as pd

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine": []}
            )
        V = np.stack(pdf[vec_col].to_numpy())
        n = pdf["__n"].to_numpy()
        G = (V @ V.T) / np.outer(n, n)
        iu, ju = np.triu_indices(m, k=1)
        cos = np.round(G[iu, ju], 9)
        keep = cos >= threshold
        ids = pdf[id_col].to_numpy()
        a_ids, b_ids = ids[iu[keep]], ids[ju[keep]]
        swap = a_ids > b_ids
        a_ids[swap], b_ids[swap] = b_ids[swap], a_ids[swap]
        return pd.DataFrame(
            {"id_a": a_ids, "id_b": b_ids, "cosine": cos[keep]}
        )

    return (
        member.select("cluster_id", id_col, vec_col, "__n")
        .groupBy("cluster_id")
        .applyInPandas(gram, out_schema)
    )


def semantic_dedup(
    corpus: DataFrame,
    eps: float = 0.05,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 5,
    keep: str = "low_centroid_sim",
) -> DataFrame:
    """SemDeDup end to end: cluster -> within-cluster near-pairs ->
    connected components -> one survivor per duplicate group. Returns
    the surviving rows of ``corpus`` (all columns). The clustering runs
    ONCE (:func:`cluster_embeddings`) and is shared by the blocking
    (:func:`semantic_dedup_pairs`) and the survivor policy.

    ``keep`` picks the survivor per duplicate component:
    ``"low_centroid_sim"`` keeps the member LEAST similar to its
    cluster centroid — the paper's choice (it preserves the most
    atypical exemplar, maximizing retained diversity); ``"min_id"``
    keeps the smallest id (pure determinism). Both tie-break on id, so
    the result is reproducible either way.

    Scale shape: pairs from :func:`semantic_dedup_pairs` (cluster-
    blocked gram batches); components via the iterative min-label
    propagation in ``operators.dedup`` (bounded by pair count); the
    survivor pick is one window over component-sized groups; the final
    anti join is id-keyed. Nothing touches n^2.
    """
    if keep not in ("low_centroid_sim", "min_id"):
        raise ValueError(f"unknown keep policy: {keep!r}")
    from .dedup import connected_components

    # the assignment feeds three consumers (pair blocking, the CC
    # iteration's lineage, the survivor policy) — persist it so the
    # assign scan runs ONCE, not once per consumer (at 100 TB this is a
    # materialized curation artifact anyway). Both persists are
    # registered in the module scratch: the previous call's scratch is
    # released here, so N calls hold one call's worth, and callers that
    # re-run the operator cold (the bench's per-run reset: runs 2..n
    # must not reuse run 1's CacheManager entries) can drop it via
    # clear_semantic_scratch().
    clear_semantic_scratch()
    assignments = cluster_embeddings(
        corpus, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col,
        refine_iters=refine_iters,
    ).persist()
    _SEMANTIC_SCRATCH.append(assignments)
    pairs = semantic_dedup_pairs(
        corpus, eps=eps, id_col=id_col, vec_col=vec_col,
        assignments=assignments,
    ).persist()
    _SEMANTIC_SCRATCH.append(pairs)
    comp = connected_components(
        pairs.select("id_a", "id_b"), id_col_a="id_a", id_col_b="id_b"
    )
    if keep == "low_centroid_sim":
        ranked = comp.join(
            assignments.select(F.col(id_col).alias("node"), F.col("sim")),
            "node",
        )
        w = Window.partitionBy("component").orderBy(
            F.col("sim").asc(), F.col("node").asc()
        )
    else:
        ranked = comp
        w = Window.partitionBy("component").orderBy(F.col("node").asc())
    losers = (
        ranked.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)
        .select(F.col("node").alias(id_col))
    )
    return corpus.join(losers, id_col, "left_anti")
