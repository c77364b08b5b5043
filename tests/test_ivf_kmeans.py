"""The one k-means behind every IVF entry point: differential pins of
``ivf_build_index`` / ``ivf_query`` routing against the expression
oracle (``tests/kmeans_oracle.py``), the wrong-length-vector rule, the
centroid loader, plan flatness across ``refine_iters``, and the cache
footprint of ``ivfpq_build_index`` and ``semantic_dedup``."""

import kmeans_oracle
import numpy as np
import pytest
from pyspark.sql import DataFrame

from data_pipeline_demo_spark.operators import similarity


def _corpus(spark, n, dim, vec_type, seed, dup_every=0):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    if vec_type == "float":
        rows = [(i, [float(np.float32(x)) for x in v]) for i, v in rows]
    if dup_every:
        rows += [(1000 + i, rows[i][1]) for i in range(0, n, dup_every)]
    return spark.createDataFrame(
        rows, f"vec_id long, embedding array<{vec_type}>"
    )


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("vec_type", ["double", "float"])
def test_ivf_centroids_and_routes_equal_oracle(spark, tmp_path, vec_type):
    """``<index>_centroids`` rows (bit for bit) and schema, and every
    vector's inverted list, equal the expression k-means at
    refine_iters 0 and 2."""
    corpus = _corpus(spark, 120, 8, vec_type, seed=23, dup_every=7)
    for iters in (0, 2):
        idx = str(tmp_path / f"ivf{iters}")
        similarity.ivf_build_index(corpus, idx, n_centroids=6, refine_iters=iters)
        got = spark.read.parquet(idx + "_centroids")
        ref_path = str(tmp_path / f"ref{iters}")
        cents = kmeans_oracle.centroids(corpus, 6, "vec_id", "embedding", iters)
        cents.write.parquet(ref_path)
        want = spark.read.parquet(ref_path)
        assert got.schema == want.schema
        assert sorted(repr(tuple(r)) for r in got.collect()) == sorted(
            repr(tuple(r)) for r in want.collect()
        )
        lists = {
            r.vec_id: r.centroid_id
            for r in spark.read.parquet(idx).select("vec_id", "centroid_id").collect()
        }
        routes = kmeans_oracle.best_centroids(corpus, want, "vec_id", "embedding")
        assert lists == {r.vec_id: r.centroid_id for r in routes.collect()}


def test_ivf_query_routes_equal_oracle_with_tied_centroids(spark, tmp_path):
    """Four distinct vectors, each copied ten times: the eight sampled
    centroids include duplicates, so top-3 routes cut through ties.
    The router ivf_query uses must pick the smaller centroid_id, exactly
    as the oracle's (sim desc, centroid_id) window, and ivf_query must
    read only those lists."""
    rng = np.random.default_rng(31)
    base = rng.normal(size=(4, 8))
    rows = [(i, [float(x) for x in base[i % 4]]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    similarity.ivf_build_index(corpus, idx, n_centroids=8)
    cids, C_list = similarity._load_centroids(spark, idx)
    assert len({tuple(c) for c in C_list}) < len(C_list)  # ties exist

    probes = spark.createDataFrame(
        [(100 + j, [float(x) for x in rng.normal(size=8)]) for j in range(12)],
        "probe_id long, embedding array<double>",
    )
    got = similarity._route_fold(
        probes, C_list, cids, "probe_id", "embedding", n_best=3
    )
    want = kmeans_oracle.best_centroids(
        probes, spark.read.parquet(idx + "_centroids"), "probe_id", "embedding",
        n_best=3,
    )
    routes = {(r.probe_id, r.centroid_id) for r in got.collect()}
    assert routes == {(r.probe_id, r.centroid_id) for r in want.collect()}
    assert len(routes) == 36

    lists = {
        r.vec_id: r.centroid_id
        for r in spark.read.parquet(idx).select("vec_id", "centroid_id").collect()
    }
    hits = similarity.ivf_query(spark, idx, probes, k=5, nprobe=3).collect()
    assert hits and all((h.probe_id, lists[h.vec_id]) in routes for h in hits)


def test_wrong_length_vector_has_no_route(spark, tmp_path):
    """A 3-dim vector in an 8-dim corpus gets a null assignment from
    cluster_embeddings, is excluded from every IVF and IVF-PQ write
    (with and without refinement), and as a probe returns no ivf_query
    rows."""
    rows = [(i, [float(x) for x in np.random.default_rng(i).normal(size=8)]) for i in range(60)]
    rows.append((7777, [1.0, 2.0, 3.0]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cluster_id, r.sim)
        for r in similarity.cluster_embeddings(
            corpus, n_clusters=4, refine_iters=2
        ).collect()
    }
    assert got[7777] == (None, None)
    assert all(c is not None for v, (c, _) in got.items() if v != 7777)

    for iters in (0, 2):
        idx = str(tmp_path / f"ivf{iters}")
        similarity.ivf_build_index(corpus, idx, n_centroids=4, refine_iters=iters)
        written = spark.read.parquet(idx)
        assert written.filter("vec_id = 7777").count() == 0
        assert written.count() == 60

    similarity.ivf_index_append(corpus.filter("vec_id = 7777"), idx)
    assert spark.read.parquet(idx).count() == 60
    probe = corpus.filter("vec_id IN (3, 7777)").withColumnRenamed("vec_id", "probe_id")
    hits = similarity.ivf_query(spark, idx, probe, k=3, nprobe=4).collect()
    assert {h.probe_id for h in hits} == {3}

    pq_idx = str(tmp_path / "ivfpq")
    similarity.ivfpq_build_index(corpus, pq_idx, n_centroids=4, m=4, k=8, refine_iters=2)
    codes = spark.read.parquet(pq_idx)
    assert codes.count() == 60 and codes.filter("vec_id = 7777").count() == 0


def test_ivf_centroid_loader_errors(spark, tmp_path):
    """A missing ``<index>_centroids`` is a ValueError naming the fix on
    every read path; a corrupt one surfaces its own read error."""
    emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    probes = emb.withColumnRenamed("vec_id", "probe_id")
    missing = str(tmp_path / "missing")
    with pytest.raises(ValueError, match="ivf_build_index first"):
        similarity.ivf_index_append(emb, missing)
    with pytest.raises(ValueError, match="ivf_build_index first"):
        similarity.ivf_query(spark, missing, probes)
    with pytest.raises(ValueError, match="ivf_build_index first"):
        similarity.apply_index_changes(spark, missing, emb, kind="ivf")

    corrupt = tmp_path / "corrupt"
    (tmp_path / "corrupt_centroids").mkdir()
    (tmp_path / "corrupt_centroids" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="not a Parquet file") as err:
        similarity.ivf_query(spark, str(corrupt), probes)
    assert not isinstance(err.value, ValueError)


def test_ivf_build_plan_is_flat_across_refine_iters(spark, tmp_path, monkeypatch):
    """Driver-resident centroids keep the written inverted-list relation
    one routing scan joined back to the corpus: the same Exchange count
    at refine_iters=3 as at 0 (an expression k-means nests one more
    broadcast join and aggregate per iteration)."""
    corpus = _corpus(spark, 60, 8, "double", seed=5)
    written: list[DataFrame] = []
    writer = type(corpus).write

    def capture(self):
        written.append(self)
        return writer.fget(self)

    monkeypatch.setattr(type(corpus), "write", property(capture))
    counts = []
    for iters in (0, 3):
        written.clear()
        similarity.ivf_build_index(
            corpus, str(tmp_path / f"ivf{iters}"), n_centroids=4, refine_iters=iters
        )
        plan = written[0]._jdf.queryExecution().executedPlan().toString()
        counts.append(plan.count("Exchange"))
    assert counts == [2, 2], counts


def test_ivfpq_bad_m_leaves_no_cached_relation(spark):
    """dim % m != 0 raises before anything is persisted."""
    corpus = _corpus(spark, 40, 8, "double", seed=9)
    before = _persisted(spark)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.ivfpq_build_index(corpus, "/nonexistent", n_centroids=4, m=3)
    assert _persisted(spark) == before


def test_semantic_dedup_scratch_is_bounded(spark):
    """Each call releases the previous call's scratch: three
    materialized calls grow the persistent-RDD registry by at most
    one call's two relations (assignments and pairs)."""
    before = _persisted(spark)
    for seed in (13, 14, 15):  # distinct plans: no CacheManager reuse
        corpus = _corpus(spark, 60, 8, "double", seed=seed, dup_every=5)
        similarity.semantic_dedup(corpus, eps=0.05, n_clusters=4, refine_iters=1).count()
    assert _persisted(spark) - before <= 2
    similarity.clear_semantic_scratch()
