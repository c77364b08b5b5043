"""Round-7 selection/diversification operators: MMR re-ranking,
SemDeDup semantic dedup, and DSIR importance resampling.

Each is checked against a literal hand-computable fixture plus a
plain-numpy/pure-Python reference where the semantics are numeric.
"""

import math

import kmeans_oracle
import numpy as np
import pytest

from data_pipeline_demo_spark.operators.retrieval import mmr_rerank
from data_pipeline_demo_spark.operators.sampling import (
    dsir_importance_weights,
    dsir_sample,
)
from data_pipeline_demo_spark.operators.similarity import (
    cluster_embeddings,
    semantic_dedup,
    semantic_dedup_pairs,
)


# --- MMR -------------------------------------------------------------------


def _mmr_reference(ids, vecs, rels, k, lam):
    """Plain-python greedy MMR with lowest-id tie-break (ids sorted)."""
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    ids = [ids[i] for i in order]
    V = np.asarray([vecs[i] for i in order], dtype=np.float64)
    rel = np.asarray([rels[i] for i in order], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0] = 1.0
    U = V / norms[:, None]
    n = len(ids)
    max_sim = np.zeros(n)
    avail = [True] * n
    picked = []
    for _ in range(min(k, n)):
        best, best_score = None, -math.inf
        for i in range(n):
            if not avail[i]:
                continue
            s = lam * rel[i] - (1 - lam) * max_sim[i]
            if s > best_score:
                best, best_score = i, s
        picked.append((ids[best], round(best_score, 6)))
        avail[best] = False
        max_sim = np.maximum(max_sim, U @ U[best])
    return picked


def test_mmr_matches_reference_and_demotes_redundancy(spark):
    # d1/d2 near-identical high-relevance, d3 orthogonal lower-relevance:
    # pure relevance would rank d1, d2; MMR must interleave d3.
    rows = [
        ("q1", "d1", [1.0, 0.0], 0.95),
        ("q1", "d2", [0.999, 0.04], 0.94),
        ("q1", "d3", [0.0, 1.0], 0.70),
        ("q1", "d4", [0.6, 0.8], 0.60),
    ]
    df = spark.createDataFrame(
        rows, "query_id string, doc_id string, embedding array<double>, rel double"
    )
    got = [
        (r.doc_id, r.mmr)
        for r in mmr_rerank(df, k=3, lam=0.5).orderBy("rk").collect()
    ]
    want = _mmr_reference(
        [r[1] for r in rows], [r[2] for r in rows], [r[3] for r in rows],
        k=3, lam=0.5,
    )
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gid, gs), (wid, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-6)
    # the diversity pick: d3 (orthogonal) must beat d2 (near-dup of d1)
    assert got[1][0] == "d3"


def test_mmr_lambda_one_is_relevance_order_and_groups_independent(spark):
    rows = [
        ("qa", "d1", [1.0, 0.0], 0.2),
        ("qa", "d2", [1.0, 0.0], 0.9),
        ("qa", "d3", [1.0, 0.0], 0.5),
        ("qb", "d1", [0.0, 1.0], 0.1),
        ("qb", "d9", [0.0, 1.0], 0.8),
    ]
    df = spark.createDataFrame(
        rows, "query_id string, doc_id string, embedding array<double>, rel double"
    )
    out = mmr_rerank(df, k=5, lam=1.0).collect()
    qa = [r.doc_id for r in sorted(out, key=lambda r: r.rk) if r.query_id == "qa"]
    qb = [r.doc_id for r in sorted(out, key=lambda r: r.rk) if r.query_id == "qb"]
    assert qa == ["d2", "d3", "d1"]  # pure relevance: identical vectors
    assert qb == ["d9", "d1"]


def test_mmr_rejects_bad_lambda(spark):
    df = spark.createDataFrame(
        [("q", "d", [1.0], 1.0)],
        "query_id string, doc_id string, embedding array<double>, rel double",
    )
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(df, lam=1.5)


# --- SemDeDup --------------------------------------------------------------


def _planted_corpus(spark):
    """Two tight semantic groups + singletons. Group A: a1/a2/a3 scaled
    copies (cosine 1.0 pairwise); group B: b1/b2 identical direction;
    s1/s2 singletons orthogonal to everything."""
    rows = [
        ("a1", [1.0, 0.0, 0.0, 0.0]),
        ("a2", [2.0, 0.0, 0.0, 0.0]),
        ("a3", [0.5, 0.001, 0.0, 0.0]),
        ("b1", [0.0, 1.0, 0.0, 0.0]),
        ("b2", [0.0, 3.0, 0.0, 0.0]),
        ("s1", [0.0, 0.0, 1.0, 0.0]),
        ("s2", [0.0, 0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id string, embedding array<double>")


def test_semantic_dedup_pairs_match_bruteforce(spark):
    corpus = _planted_corpus(spark)
    # brute force pairs at cosine >= 0.95
    rows = corpus.collect()
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            ca = np.asarray(a.embedding)
            cb = np.asarray(b.embedding)
            cos = float(ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb)))
            if cos >= 0.95:
                want.add(tuple(sorted((a.vec_id, b.vec_id))))
    got = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            corpus, eps=0.05, n_clusters=4, refine_iters=3
        ).collect()
    }
    # cluster blocking may only MISS straddling pairs, never invent:
    assert got <= want
    # with 4 clusters over 4 orthogonal directions the planted groups
    # co-cluster, so recall here is total
    assert got == want


def test_semantic_dedup_keeps_one_per_group(spark):
    corpus = _planted_corpus(spark)
    kept = {
        r.vec_id
        for r in semantic_dedup(
            corpus, eps=0.05, n_clusters=4, refine_iters=3, keep="min_id"
        ).collect()
    }
    assert "s1" in kept and "s2" in kept
    assert len(kept & {"a1", "a2", "a3"}) == 1
    assert len(kept & {"b1", "b2"}) == 1
    assert kept & {"a1", "a2", "a3"} == {"a1"}  # min_id policy
    assert kept & {"b1", "b2"} == {"b1"}


def test_semantic_dedup_low_centroid_sim_policy_deterministic(spark):
    corpus = _planted_corpus(spark)
    k1 = {
        r.vec_id
        for r in semantic_dedup(
            corpus, eps=0.05, n_clusters=4, refine_iters=3
        ).collect()
    }
    k2 = {
        r.vec_id
        for r in semantic_dedup(
            corpus, eps=0.05, n_clusters=4, refine_iters=3
        ).collect()
    }
    assert k1 == k2  # deterministic across runs
    assert len(k1 & {"a1", "a2", "a3"}) == 1
    with pytest.raises(ValueError, match="keep"):
        semantic_dedup(corpus, keep="random")


# --- DSIR ------------------------------------------------------------------


def _dsir_fixture(spark):
    target = spark.createDataFrame(
        [
            ("t1", "the theorem proof follows by induction"),
            ("t2", "proof of the theorem uses induction on n"),
        ],
        "doc_id string, text string",
    )
    raw = spark.createDataFrame(
        [
            ("r1", "the theorem proof follows by induction"),  # on-target
            ("r2", "buy cheap pills online casino bonus"),      # off-target
            ("r3", "proof by induction of the theorem"),        # on-target-ish
            ("r4", "weather today is sunny with clouds"),       # off-target
            ("r5", ""),                                          # empty
        ],
        "doc_id string, text string",
    )
    return raw, target


def test_dsir_weights_rank_on_target_docs_higher(spark):
    raw, target = _dsir_fixture(spark)
    w = {
        r.doc_id: r.log_weight
        for r in dsir_importance_weights(raw, target, buckets=1 << 14).collect()
    }
    assert set(w) == {"r1", "r2", "r3", "r4", "r5"}
    assert w["r5"] == 0.0  # empty doc: indifferent
    # every on-target doc outranks every off-target doc
    assert min(w["r1"], w["r3"]) > max(w["r2"], w["r4"])


def test_dsir_weights_match_pure_python(spark):
    raw, target = _dsir_fixture(spark)
    buckets, alpha = 1 << 14, 1.0
    w = {
        r.doc_id: r.log_weight
        for r in dsir_importance_weights(
            raw, target, buckets=buckets, alpha=alpha
        ).collect()
    }

    import re

    def feats(text):
        toks = [t for t in re.split(r"[^\w]+", text.lower()) if t]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return grams

    # bucket via Spark's own xxhash64 (hash parity not reimplemented here):
    all_grams = sorted(
        {g for r in raw.collect() + target.collect() for g in feats(r.text)}
    )
    from pyspark.sql import functions as F

    gdf = spark.createDataFrame([(g,) for g in all_grams], "g string")
    hmap = {
        r.g: r.b
        for r in gdf.select(
            "g", F.pmod(F.xxhash64("g"), F.lit(buckets)).alias("b")
        ).collect()
    }

    def dist(docs):
        counts = {}
        for r in docs:
            for g in feats(r.text):
                b = hmap[g]
                counts[b] = counts.get(b, 0) + 1
        total = sum(counts.values())
        return counts, total

    tc, tn = dist(target.collect())
    rc, rn = dist(raw.collect())

    def lp(counts, total, b):
        return math.log(counts.get(b, 0) + alpha) - math.log(
            total + alpha * buckets
        )

    for r in raw.collect():
        want = sum(
            lp(tc, tn, hmap[g]) - lp(rc, rn, hmap[g]) for g in feats(r.text)
        )
        assert w[r.doc_id] == pytest.approx(want, rel=1e-9), r.doc_id


def test_dsir_sample_exact_k_deterministic_and_biased(spark):
    raw, target = _dsir_fixture(spark)
    s1 = {r.doc_id for r in dsir_sample(raw, target, k=2, salt=7).collect()}
    s2 = {r.doc_id for r in dsir_sample(raw, target, k=2, salt=7).collect()}
    assert s1 == s2 and len(s1) == 2
    # bias check: relative weights are ~{r1: 0.45, r3: 0.11, r5: 1.0,
    # r2/r4: 5e-4} (r5 is the empty doc — log_weight 0 means weight 1,
    # the documented neutrality convention, so it legitimately takes
    # slots). The OFF-TARGET docs are what importance resampling must
    # exclude: across 8 salts (16 slots) they should essentially never
    # appear.
    off_target = 0
    for salt in range(8):
        sel = {r.doc_id for r in dsir_sample(raw, target, k=2, salt=salt).collect()}
        off_target += len(sel & {"r2", "r4"})
    assert off_target <= 1

    with pytest.raises(ValueError, match="buckets"):
        dsir_importance_weights(raw, target, buckets=0)
    with pytest.raises(ValueError, match="alpha"):
        dsir_importance_weights(raw, target, alpha=0.0)


def test_semantic_dedup_pairs_arrow_equals_expr(spark):
    """The BLAS gram verify and the oracle's expression fold over the
    cluster equi-join must emit the SAME pair set with 9-decimal-
    identical cosines."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8))
    rows = [(f"v{i}", [float(x) for x in base[i]]) for i in range(40)]
    # plant near-dups: scaled copies of every 4th vector
    rows += [
        (f"p{i}", [float(x * 1.7) for x in base[i]]) for i in range(0, 40, 4)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    )
    from data_pipeline_demo_spark.operators.similarity import (
        cluster_embeddings,
        semantic_dedup_pairs,
    )

    assignments = cluster_embeddings(
        corpus, n_clusters=6, refine_iters=3
    ).persist()
    kw = dict(eps=0.05, assignments=assignments)
    arrow = {
        (r.id_a, r.id_b): r.cosine
        for r in semantic_dedup_pairs(corpus, **kw).collect()
    }
    expr = {
        (r.id_a, r.id_b): r.cosine
        for r in kmeans_oracle.semantic_dedup_pairs(corpus, **kw).collect()
    }
    assignments.unpersist()
    assert set(arrow) == set(expr) and len(arrow) >= 10
    for k in arrow:
        assert abs(arrow[k] - expr[k]) < 2e-9


def test_cluster_routing_arrow_equals_expr(spark):
    """cluster_embeddings must assign every vector to the same cluster
    as the oracle's expression k-means on random data."""
    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(120)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {
        r.vec_id: r.cluster_id
        for r in cluster_embeddings(
            corpus, n_clusters=5, refine_iters=2
        ).collect()
    }
    e = {
        r.vec_id: r.cluster_id
        for r in kmeans_oracle.cluster_embeddings(
            corpus, n_clusters=5, refine_iters=2
        ).collect()
    }
    assert a == e


def test_retrieval_metrics_hand_computed(spark):
    """nDCG@k / MRR@k / recall@k / precision@k against hand-derived
    values (textbook exponential-gain DCG):

    query a — run [d1(rel2), d2(rel0), d3(rel1)], judged {d1:2, d3:1,
    d9:1}; k=3. DCG = 3/log2(2) + 0 + 1/log2(4) = 3.5; ideal ranking
    [2,1,1] → IDCG = 3 + 1/log2(3) + 1/2 = 4.130930; nDCG = 0.847266;
    MRR = 1/1; recall = 2/3; precision = 2/3.
    query b — run has NO relevant in top-k: all metrics 0, n_rel = 1.
    """
    import math

    from pyspark.sql import functions as F  # noqa: F401

    from data_pipeline_demo_spark.operators.retrieval import (
        retrieval_metrics,
    )

    runs = spark.createDataFrame(
        [
            ("a", "d1", 1), ("a", "d2", 2), ("a", "d3", 3), ("a", "d4", 4),
            ("b", "d5", 1), ("b", "d6", 2),
        ],
        "query_id string, doc_id string, rank long",
    )
    qrels = spark.createDataFrame(
        [("a", "d1", 2), ("a", "d3", 1), ("a", "d9", 1), ("b", "d7", 1)],
        "query_id string, doc_id string, rel long",
    )
    got = {
        r["query_id"]: r.asDict()
        for r in retrieval_metrics(runs, qrels, k=3).collect()
    }
    idcg = 3.0 + 1.0 / math.log2(3.0) + 0.5
    assert got["a"]["ndcg_at_k"] == round(3.5 / idcg, 6)
    assert got["a"]["mrr_at_k"] == 1.0
    assert got["a"]["recall_at_k"] == round(2 / 3, 6)
    assert got["a"]["precision_at_k"] == round(2 / 3, 6)
    assert got["a"]["n_rel"] == 3
    assert got["b"] == {
        "query_id": "b", "ndcg_at_k": 0.0, "mrr_at_k": 0.0,
        "recall_at_k": 0.0, "precision_at_k": 0.0, "n_rel": 1,
    }


def test_retrieval_metrics_perfect_run_is_one(spark):
    """A run that lists the judged docs in ideal order scores
    nDCG = MRR = recall = 1 exactly."""
    from data_pipeline_demo_spark.operators.retrieval import (
        retrieval_metrics,
    )

    runs = spark.createDataFrame(
        [("q", "d1", 1), ("q", "d2", 2)],
        "query_id string, doc_id string, rank long",
    )
    qrels = spark.createDataFrame(
        [("q", "d1", 3), ("q", "d2", 1)],
        "query_id string, doc_id string, rel long",
    )
    row = retrieval_metrics(runs, qrels, k=5).collect()[0]
    assert row["ndcg_at_k"] == 1.0
    assert row["mrr_at_k"] == 1.0
    assert row["recall_at_k"] == 1.0
    assert row["n_rel"] == 2


def test_retrieval_metrics_window_is_query_partitioned(spark):
    """Scale shape: the only Window in the plan partitions by the
    query column — never an unpartitioned total order."""
    from data_pipeline_demo_spark.operators.retrieval import (
        retrieval_metrics,
    )

    runs = spark.createDataFrame(
        [("q", "d1", 1)], "query_id string, doc_id string, rank long"
    )
    qrels = spark.createDataFrame(
        [("q", "d1", 1)], "query_id string, doc_id string, rel long"
    )
    plan = retrieval_metrics(runs, qrels)._jdf.queryExecution(
    ).executedPlan().toString()
    import re

    for ln in plan.splitlines():
        if re.search(r"\bWindow \[", ln):
            assert "partitionBy" not in ln  # physical prints spec groups
            assert "query_id" in ln.split("windowspecdefinition")[1][:60]


def test_decimal_ints_match_spark_cast(spark):
    """The k-means' integer replication of cast(decimal(28,10)) must
    agree with Spark's own cast element-for-element — boundary halves,
    float32-origin values, tiny and huge magnitudes included (the Lloyd
    means are built from these integers, so this pin is what makes
    them equal the expression oracle's decimal averages)."""
    from pyspark.sql import functions as F

    from data_pipeline_demo_spark.operators.similarity import _fold_kernels

    rng = np.random.default_rng(3)
    vals = (
        [float(np.float32(x)) for x in rng.normal(size=400)]
        + list(rng.normal(size=400))
        + [float(np.float32(x)) for x in rng.normal(size=100) * 1e-6]
        + [float(np.float32(x)) for x in rng.normal(size=100) * 1e5]
        + [0.5e-10, 1.5e-10, 2.5e-10, -2.5e-10, -1.5e-10, 123.45678901235,
           1e11, 1e14 + 0.5, 5e14, 1e17, 9.99e17, -9.9e17, 0.0, -0.0]
    )
    got = (
        spark.createDataFrame([(float(v),) for v in vals], "x double")
        .select(F.col("x").cast("decimal(28,10)").alias("d"))
        .collect()
    )
    _, _, decimal_ints, _ = _fold_kernels()
    ints, valid, big = decimal_ints(np.asarray([[v] for v in vals]))
    bigmap = {i: v for i, _, v in big}
    for i, v in enumerate(vals):
        want = int(got[i]["d"].scaleb(10))
        mine = bigmap[i] if i in bigmap else int(ints[i][0])
        assert valid[i][0] or i in bigmap, repr(v)
        assert want == mine, (repr(v), want, mine)


def test_avg_decimal_semantics_match_spark(spark):
    """_avg_decimal_f32 must replicate avg(cast(decimal(28,10)))
    .cast('float') exactly — including the scale-14 HALF_UP landing
    the probe pinned (a repeating quotient like 1e-10/3 must NOT
    collapse to zero, i.e. no intermediate scale-10 rounding)."""
    from pyspark.sql import functions as F

    from data_pipeline_demo_spark.operators.similarity import (
        _avg_decimal_f32,
        _fold_kernels,
    )

    rng = np.random.default_rng(5)
    rows = [(int(i % 7), float(np.float32(x))) for i, x in enumerate(rng.normal(size=700))]
    rows += [(7, 1e-10), (7, 0.0), (7, 0.0), (8, -1e-10), (8, 0.0), (8, 0.0)]
    df = spark.createDataFrame(rows, "g int, x double")
    got = {
        r["g"]: (r["mf"], r["n"])
        for r in df.groupBy("g")
        .agg(
            F.avg(F.col("x").cast("decimal(28,10)")).cast("float").alias("mf"),
            F.count("x").alias("n"),
        )
        .collect()
    }
    _, _, decimal_ints, _ = _fold_kernels()
    sums: dict[int, int] = {}
    cnts: dict[int, int] = {}
    for g, x in rows:
        ints, valid, big = decimal_ints(np.asarray([[x]]))
        sums[g] = sums.get(g, 0) + (big[0][2] if big else int(ints[0][0]))
        cnts[g] = cnts.get(g, 0) + 1
    for g, (want, n) in got.items():
        mine = _avg_decimal_f32(sums[g], cnts[g])
        assert float(np.float32(want)) == mine, (g, want, mine)


def test_cluster_arrow_bitwise_equals_expr(spark):
    """cluster_embeddings is BIT-identical to the oracle's expression
    k-means — assignments AND sims — on random double and float32
    corpora with planted exact-duplicate vectors (duplicate corpus
    vectors can be sampled as two identical centroids, exercising the
    tie-break knife edge a normalized-matmul router gets wrong)."""
    import struct

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(150)]
    rows += [(1000 + i, rows[i][1]) for i in range(0, 150, 6)]  # exact dups
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {
        r["vec_id"]: (r["cluster_id"], struct.pack("d", r["sim"]))
        for r in cluster_embeddings(
            corpus, n_clusters=6, refine_iters=3
        ).collect()
    }
    e = {
        r["vec_id"]: (r["cluster_id"], struct.pack("d", r["sim"]))
        for r in kmeans_oracle.cluster_embeddings(
            corpus, n_clusters=6, refine_iters=3
        ).collect()
    }
    assert a == e
    rows32 = [
        (i, [float(np.float32(x)) for x in rng.normal(size=16)])
        for i in range(120)
    ]
    corp32 = spark.createDataFrame(
        rows32, "vec_id long, embedding array<float>"
    )
    a32 = {
        r["vec_id"]: (r["cluster_id"], struct.pack("d", r["sim"]))
        for r in cluster_embeddings(
            corp32, n_clusters=5, refine_iters=4
        ).collect()
    }
    e32 = {
        r["vec_id"]: (r["cluster_id"], struct.pack("d", r["sim"]))
        for r in kmeans_oracle.cluster_embeddings(
            corp32, n_clusters=5, refine_iters=4
        ).collect()
    }
    assert a32 == e32
