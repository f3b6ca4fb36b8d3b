"""Privacy auditing / release mechanics over relational data.

[absent in reference — north-star extension] The redaction side
(PII scrub/audit) lives in :mod:`..functions.text`; this module covers
the RELEASE side a data pipeline needs before publishing aggregates or
micro-data: k-anonymity auditing (which quasi-identifier combinations
re-identify) and the Laplace count mechanism (how to publish counts with
a differential-privacy noise budget).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from semantic_index_spark.functions.text import md5_bigint


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit: every quasi-identifier combination carried by
    FEWER than ``k`` rows is a re-identification risk (Sweeney 2002) —
    release of such rows links back to individuals. Returns the violating
    combinations with their group sizes; an empty result certifies the
    projection k-anonymous.

    One partial-aggregated groupBy on the quasi columns + a HAVING — the
    audit costs one shuffle of combo-bounded rows however large the
    table. The fix loop (generalize a column, re-audit) re-runs this with
    coarser quasi_cols (e.g. an age → age-band rewrite) until empty.
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count("*").cast("bigint").alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def dp_noisy_counts(
    df: DataFrame,
    by: str,
    epsilon: float = 1.0,
    seed: str = "dp:",
) -> DataFrame:
    """Per-group counts released through the Laplace mechanism: published
    count = true count + Lap(Δ/ε) with sensitivity Δ=1 for counting
    queries. The mechanism arithmetic (inverse-CDF sampling, sensitivity
    scaling, post-processing rounding) is exactly the production shape.

    DETERMINISM CAVEAT — deliberately not real DP as shipped: the noise
    uniform is md5-derived from the group key, so runs are reproducible
    and the cross-engine oracle can replay the release bit-for-bit (the
    same trick as :func:`...operators.skew.weighted_sample`). A real
    deployment replaces ``u`` with a cryptographic RNG — everything else
    (scale, clamping, inverse CDF) is unchanged. A keyed-hash noise draw
    is NOT private: anyone knowing the key recomputes the noise.

    Laplace inverse CDF: x = -b·sgn(u−½)·ln(1−2|u−½|), b = 1/ε.
    Returns (by, noisy_count) with negative releases clamped to 0 (valid
    post-processing).
    """
    b = 1.0 / float(epsilon)
    u = (md5_bigint(F.col(by).cast("string"), salt=seed) + 1) / F.lit(
        float(1 << 60)
    )
    centered = u - F.lit(0.5)
    noise = (
        -F.lit(b)
        * F.signum(centered)
        * F.log(F.lit(1.0) - 2.0 * F.abs(centered))
    )
    return (
        df.groupBy(by)
        .agg(F.count("*").alias("_n"))
        .select(
            by,
            F.greatest(
                F.round(F.col("_n") + noise).cast("bigint"), F.lit(0).cast("bigint")
            ).alias("noisy_count"),
        )
    )


def _py_laplace_noise(key: str, epsilon: float, seed: str = "dp:") -> float:
    """Python reference of the deterministic noise draw (tests)."""
    import hashlib

    h = int(hashlib.md5(f"{seed}{key}".encode()).hexdigest()[:15], 16)
    u = (h + 1) / float(1 << 60)
    c = u - 0.5
    return -(1.0 / epsilon) * math.copysign(1.0, c) * math.log(1.0 - 2.0 * abs(c))


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    ell: int = 2,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a group can be k-large yet leak the sensitive
    attribute outright when everyone in it SHARES the value (homogeneity
    attack). A release is distinct-l-diverse when every quasi-identifier
    group carries at least ``ell`` distinct sensitive values. Returns the
    violating combinations with (group_size, n_sensitive); empty result
    certifies the projection.

    Same one-shuffle shape as :func:`k_anonymity_audit`: a single
    partial-aggregated groupBy on the quasi columns — count and exact
    distinct-count both merge map-side; swap ``countDistinct`` for the
    HLL sketch in :mod:`..functions.sketch` when approximate certification
    is acceptable at 100 TB. The fix loop generalizes quasi columns or
    suppresses small groups and re-audits, exactly as with k-anonymity.
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count("*").cast("bigint").alias("group_size"),
            F.countDistinct(sensitive_col).cast("bigint").alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < ell)
    )


def dp_exponential_topk(
    df: DataFrame,
    by: str,
    k: int = 5,
    epsilon: float = 1.0,
    seed: str = "em:",
) -> DataFrame:
    """Top-k selection through the exponential mechanism — the DP answer
    to "which categories may we NAME?", where :func:`dp_noisy_counts`
    answers "what counts may we publish?". Utility = group count
    (sensitivity 1); selection uses the Gumbel-max trick: noisy score =
    ε·count/2 + Gumbel(0,1), and taking the k LARGEST noisy scores is
    exactly k sequential exponential-mechanism draws without replacement
    (Durfee & Rogers 2019, "one-shot top-k"). [absent in reference —
    north-star extension]

    DETERMINISM CAVEAT — same contract as :func:`dp_noisy_counts`: the
    Gumbel uniform is md5-derived from the group key so the release is
    reproducible and the cross-engine oracle replays it bit-for-bit; a
    real deployment swaps in a cryptographic RNG, everything else
    (utility scaling, Gumbel inversion, one-shot ordering) unchanged.

    Scale shape: ONE map-side-combined groupBy to |groups| rows, noise in
    a scalar expression, bounded top-k (TakeOrderedAndProject) — the
    corpus never sorts. Returns (rank, by) — counts deliberately NOT
    released; naming the winners is the mechanism's entire output.
    """
    if k < 1:
        raise ValueError("dp_exponential_topk: k must be >= 1")
    u = (md5_bigint(F.col(by).cast("string"), salt=seed) + 1) / F.lit(
        float(1 << 60)
    )
    gumbel = -F.log(-F.log(u))
    noisy = F.lit(float(epsilon) / 2.0) * F.col("_n") + gumbel
    ranked = (
        df.groupBy(by)
        .agg(F.count("*").alias("_n"))
        .select(F.col(by), noisy.alias("_s"))
        .orderBy(F.col("_s").desc(), F.col(by).asc())
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("_s").desc(), F.col(by).asc())
    return ranked.select(
        F.row_number().over(w).cast("int").alias("rank"), F.col(by)
    )
