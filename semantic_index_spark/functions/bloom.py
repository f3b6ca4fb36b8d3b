"""Portable Bloom filter built from the engine-agnostic md5 hash.

[absent in reference — north-star extension] Spark's runtime bloom
pruning (``spark.sql.optimizer.runtime.bloomFilter.enabled``, surfaced in
:mod:`semantic_index_spark.plans.tuning`) is a black-box JVM sketch that no
other engine can replay; this module implements a classic Bloom filter
(Bloom 1970) from the same portable 60-bit md5 hash the HLL and count-min
sketches use (:func:`semantic_index_spark.functions.text.md5_bigint`), so
Spark and a DuckDB oracle compute IDENTICAL bit sets and therefore
identical membership answers — false positives included.

The sketch state is the SPARSE set of set bit positions (one BIGINT row
per set bit, ≤ ``m`` rows total), not a packed bitmap: a relational row
set merges with ``union ... distinct`` (the Bloom OR property), survives
any shuffle, broadcasts cheaply (m = 2^20 bits ⇒ ≤ 8 MiB of BIGINTs), and
needs no custom binary format. Pipelines persist it as plain parquet.

Why this matters at 100 TB: the canonical incremental-ingest question is
"which of today's documents have we DEFINITELY never seen?" Joining a
day's batch against the full historical fingerprint corpus shuffles the
corpus every day; probing a broadcast Bloom built ONCE (and merged
incrementally day over day) touches only the batch. The filter's one-sided
error is exactly the safe direction for dedup screening: no false
negatives means nothing already ingested is ever re-admitted as "new";
false positives only send a bounded fraction (≈ (1 - e^{-kn/m})^k) of
genuinely-new rows to the exact verification path.

Scale shape: building is one map-side-combinable distinct over ≤ m keys;
probing is a broadcast left join, no shuffle of the probe side beyond its
final aggregation. Bit positions are pure JVM expressions (md5 + pmod) —
whole-stage codegen end to end, no Python.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from semantic_index_spark.functions.text import md5_bigint


def _positions(col, m: int, k: int):
    """The k bit positions of a value: pmod(md5(salt_r || v), m) for r in
    0..k-1. Independent hash rows via the salt, same trick as the CMS."""
    v = F.col(col).cast("string") if isinstance(col, str) else col.cast("string")
    return F.array(*[F.pmod(md5_bigint(v, salt=f"bloom{r}:"), F.lit(m)) for r in range(k)])


def bloom_bits(df: DataFrame, col: str, m: int = 1 << 16, k: int = 4) -> DataFrame:
    """Build the filter over ``df[col]``: the distinct set of bit positions
    ``{h_r(v) mod m : v ∈ df, r < k}`` as rows ``(bit bigint)``. NULLs are
    skipped (membership of NULL is undefined, as in every engine's
    semi-join semantics)."""
    if m < 2 or k < 1:
        raise ValueError(f"bloom_bits: need m >= 2, k >= 1, got m={m}, k={k}")
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(_positions(col, m, k)).alias("bit"))
        .distinct()
    )


def bloom_contains(
    bloom: DataFrame, df: DataFrame, col: str, m: int = 1 << 16, k: int = 4
) -> DataFrame:
    """Probe: append ``maybe_member`` (boolean) to ``df`` — true iff ALL k
    bit positions of ``df[col]`` are set. False ⇒ DEFINITELY absent (the
    Bloom guarantee); true ⇒ present or a false positive.

    The filter is broadcast (≤ m rows of one BIGINT); the probe side is
    never shuffled — each row just checks its k bits against the hash map.
    NULL values probe to NULL."""
    hit = (
        df.select(F.col(col).alias("_v"))
        .where(F.col("_v").isNotNull())
        .distinct()
        .select("_v", F.posexplode(_positions("_v", m, k)).alias("_r", "bit"))
        .join(F.broadcast(bloom.withColumn("_set", F.lit(1))), "bit", "left")
        .groupBy("_v")
        .agg((F.min(F.coalesce(F.col("_set"), F.lit(0))) == 1).alias("maybe_member"))
    )
    return df.join(hit, df[col] == hit["_v"], "left").drop("_v")


def bloom_definitely_new(
    bloom: DataFrame, df: DataFrame, col: str, m: int = 1 << 16, k: int = 4
) -> DataFrame:
    """The incremental-ingest screen: rows of ``df`` whose ``col`` is
    DEFINITELY not in the filter (at least one bit unset). Complement rows
    ("maybe seen") go to the exact verification join; at a typical 1% FP
    rate that join touches 100× less data than screening nothing."""
    probed = bloom_contains(bloom, df, col, m, k)
    return probed.where(~F.col("maybe_member")).drop("maybe_member")


def bloom_fp_rate(n_items: int, m: int, k: int) -> float:
    """Analytic false-positive probability (1 - e^{-kn/m})^k — the sizing
    formula: pick m ≈ -n·ln(p)/ln(2)² and k ≈ (m/n)·ln(2) for target p."""
    if m < 1 or k < 1:
        raise ValueError("bloom_fp_rate: need m >= 1, k >= 1")
    return (1.0 - math.exp(-k * n_items / m)) ** k
