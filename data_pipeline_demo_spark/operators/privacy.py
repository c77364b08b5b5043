"""Differentially-private aggregate release (Dwork et al. 2006, the
Laplace mechanism — public literature): noisy per-group counts and
clipped sums for publishing statistics about sensitive data (the
governance sibling of the PII scrub in `textstats`).

Noise here is DETERMINISTIC-SEEDED: the Laplace draw derives from
``xxhash64(group key, seed)`` through the inverse CDF, so releases are
reproducible, replayable across retries, and testable — the same
hash-threshold discipline as `sampling.deterministic_sample`. The
privacy guarantee is the standard one PER RELEASE (epsilon per query;
composing releases composes budgets — callers track the ledger, and a
NEW seed must accompany any re-release, or the "fresh" noise is the
old noise and the two releases pay one budget but leak as one).

Everything is a built-in column expression: hash → uniform → inverse
CDF → add — scan-stream, no shuffle beyond the grouped aggregate
itself, no Python. Scale shape: identical to the plain aggregate; the
noise costs two scalar ops per OUTPUT group.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sinks.upsert import composite_key


def _group_key(group_cols: Sequence[str]) -> Column:
    """Injective, null-distinct group-key encoding
    (:func:`~..sinks.upsert.composite_key`): with a plain ``concat_ws``,
    ``(NULL, 'a')`` and ``('a', NULL)`` would hash alike and SHARE one
    noise draw — correlated noise across releases is a privacy defect,
    not just a cosmetic one."""
    return composite_key(group_cols)


def _laplace_noise(key: Column, seed: int, scale: Column) -> Column:
    """Deterministic Laplace(0, scale) from the group key: xxhash64 →
    uniform in (0,1) via the low 52 bits (exact in double) → inverse
    CDF ``-scale·sign(u-½)·ln(1-2|u-½|)``. The (0,1) endpoints are
    excluded by construction (offset ½ ulp at 2⁻⁵³), so ln() never
    sees 0."""
    h = F.xxhash64(key, F.lit(seed))
    mantissa = F.pmod(h, F.lit(2**52)).cast("double")
    u = (mantissa + F.lit(0.5)) / F.lit(float(2**52))  # (0, 1) exclusive
    centered = u - F.lit(0.5)
    return (
        -scale
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )


def dp_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """ε-DP per-group counts: true count + Laplace(1/ε) (count has
    sensitivity 1), rounded to the nearest non-negative integer for
    release. Returns ``(*group_cols, noisy_count)`` — the TRUE count
    never leaves this function."""
    if epsilon <= 0:
        raise ValueError(f"epsilon must be positive, got {epsilon}")
    group_cols = list(group_cols)
    noise = _laplace_noise(_group_key(group_cols), seed, F.lit(1.0 / epsilon))
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__true"))
        .select(
            *group_cols,
            F.greatest(
                F.round(F.col("__true") + noise).cast("bigint"), F.lit(0)
            ).alias("noisy_count"),
        )
    )


def dp_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    clip: float,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """ε-DP per-group sums with contribution clipping: each value is
    clipped to ``[0, clip]`` BEFORE aggregation (bounding one row's
    influence — the sensitivity), then Laplace(clip/ε) noise is added.
    Returns ``(*group_cols, noisy_sum)``, rounded to 6.

    The clip bound is a privacy parameter, not a data statistic:
    deriving it from the data (e.g. the observed max) silently spends
    budget — pass a fixed policy value."""
    if epsilon <= 0:
        raise ValueError(f"epsilon must be positive, got {epsilon}")
    if clip <= 0:
        raise ValueError(f"clip must be positive, got {clip}")
    group_cols = list(group_cols)
    key = _group_key(group_cols)
    clipped = F.least(
        F.greatest(F.col(value_col).cast("double"), F.lit(0.0)), F.lit(clip)
    )
    noise = _laplace_noise(key, seed, F.lit(clip / epsilon))
    return (
        df.groupBy(*group_cols)
        .agg(F.sum(clipped).alias("__true"))
        .select(
            *group_cols,
            F.round(F.col("__true") + noise, 6).alias("noisy_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty for
# massive data streams" — the public large-scale bootstrap recipe):
# resampling n rows WITH replacement is a shuffle-and-gather at scale,
# but each row's multiplicity in a bootstrap replica is ~Binomial(n,1/n)
# → Poisson(1) as n grows, which needs NO coordination: every row draws
# its own per-replica weight from a hash. B replicas = one ×B map-only
# explode + one combinable aggregate. Deterministic-seeded like the DP
# release above (same module: both are "statistics you can re-publish").
# ---------------------------------------------------------------------------

import math as _math


def _poisson1_thresholds(cap: int = 8) -> list[float]:
    """Cumulative P[X <= k] for Poisson(1), k = 0..cap-1 (tail mass
    lands on cap)."""
    cum, out, term = 0.0, [], _math.exp(-1.0)
    for k in range(cap):
        cum += term
        out.append(cum)
        term /= k + 1
    return out


def bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    n_replicas: int = 200,
    alpha: float = 0.05,
    seed: int = 0,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for each group's MEAN:
    ``(group, n, mean, ci_lo, ci_hi)`` at level ``1 - alpha``. Each
    row's weight in replica b is a deterministic Poisson(1) draw from
    ``xxhash64(key, b, seed)`` (inverse CDF over a hash uniform,
    capped at 8 — P[X > 8] < 1e-6); replica means aggregate per
    (group, b) and the interval is the exact percentile of the B
    replica means.

    Scale shape: ONE ×B map-only explode of (group, key, value) — the
    documented bootstrap cost, B ≈ 200 — then a combinable weighted
    aggregate to (groups × B) rows, where the exact percentile is
    cheap. No resampling shuffle, no per-replica scan: the corpus is
    read once. Determinism: rerunning (or re-partitioning) reproduces
    the interval bit-for-bit; a different seed draws fresh replicas."""
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if n_replicas < 2:
        raise ValueError(f"need at least 2 replicas, got {n_replicas}")
    thresholds = _poisson1_thresholds()
    b_col = F.explode(
        F.sequence(F.lit(0), F.lit(n_replicas - 1))
    ).alias("__b")
    h = F.xxhash64(F.col(key_col), F.col("__b"), F.lit(seed))
    u = (F.pmod(h, F.lit(2**52)).cast("double") + 0.5) / F.lit(float(2**52))
    w = F.lit(len(thresholds))
    for k in reversed(range(len(thresholds))):
        w = F.when(u < F.lit(thresholds[k]), F.lit(k)).otherwise(w)
    replicas = (
        df.select(
            F.col(group_col), F.col(key_col), F.col(value_col), b_col
        )
        .withColumn("__w", w.cast("double"))
        .groupBy(group_col, "__b")
        .agg(
            (
                F.sum(F.col("__w") * F.col(value_col))
                / F.sum("__w")
            ).alias("__rep_mean")
        )
    )
    ci = replicas.groupBy(group_col).agg(
        F.round(
            F.expr(f"percentile(__rep_mean, {alpha / 2})"), 6
        ).alias("ci_lo"),
        F.round(
            F.expr(f"percentile(__rep_mean, {1 - alpha / 2})"), 6
        ).alias("ci_hi"),
    )
    base = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            (
                F.sum(F.col(value_col).cast("decimal(18,6)"))
                / F.count(F.lit(1))
            ).cast("double"),
            6,
        ).alias("mean"),
    )
    return base.join(ci, group_col).select(
        group_col, "n", "mean", "ci_lo", "ci_hi"
    )
