"""Portable approximate-distinct sketch (HyperLogLog) built from engine-
agnostic primitives.

[absent in reference — north-star extension] Spark's own
``approx_count_distinct`` is a black-box HLL++ whose estimate no other
engine reproduces, which makes it untestable against an oracle. This module
implements classic HyperLogLog (Flajolet et al. 2007) from the portable
md5-based 60-bit hash (:func:`semantic_index_spark.functions.text.md5_bigint`),
so Spark and DuckDB compute the IDENTICAL estimate — deterministic,
hash-comparable, and still one map-side-combined groupBy over ``2^p``
registers at any scale.

Scale shape: hash + register index are pure JVM expressions; the only
shuffle is a groupBy over at most ``2^p`` keys (4096 for p=12) with
map-side partial ``max`` — the sketch state is O(2^p) regardless of input
size, and registers from different partitions/days/sources merge with
``max`` (the HLL union property), which is what makes it viable for 100 TB
incremental pipelines where exact ``count(distinct)`` would shuffle every
key.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from semantic_index_spark.functions.text import md5_bigint

HASH_BITS = 60  # md5_bigint yields 15 hex chars = 60 bits


def hll_registers(df: DataFrame, col: str, p: int = 12) -> DataFrame:
    """Aggregate ``df[col]`` into HLL registers: ``(idx, rho)`` where
    ``idx`` = top ``p`` hash bits and ``rho`` = max over values of
    (1 + leading zeros of the remaining ``60-p`` bits). Only registers that
    saw at least one value appear (absent ⇒ rho 0). Bit-length via
    ``length(bin(x))`` — integer-exact in both engines, no float log2."""
    if not 4 <= p <= 18:
        raise ValueError(f"hll_registers: need 4 <= p <= 18, got {p}")
    rem_bits = HASH_BITS - p
    h = md5_bigint(F.col(col).cast("string"))
    idx = F.shiftright(h, rem_bits)
    rem = h.bitwiseAND(F.lit((1 << rem_bits) - 1))
    rho = F.when(rem == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits + 1) - F.length(F.bin(rem))
    )
    return (
        # count(distinct) ignores NULLs; without this filter a NULL value
        # would hash to a phantom (idx=NULL, rho=NULL) register that skews
        # the zero-register count in hll_estimate.
        df.where(F.col(col).isNotNull())
        .select(idx.alias("idx"), rho.alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_registers_by(df: DataFrame, col: str, by: str, p: int = 12) -> DataFrame:
    """Per-group HLL registers ``(by, idx, rho)`` — the sketch-per-key form
    (distinct users per event_type / per day / per source). ONE map-side-
    combined groupBy over ≤ |groups|·2^p keys; register rows from different
    partitions, days, or groups merge by ``max(rho)``, so rolling a
    per-group sketch up to a global one (or merging daily sketches into
    monthly) never touches raw data again — the property that makes HLL
    the 100 TB distinct-count path."""
    if not 4 <= p <= 18:
        raise ValueError(f"hll_registers_by: need 4 <= p <= 18, got {p}")
    rem_bits = HASH_BITS - p
    h = md5_bigint(F.col(col).cast("string"))
    idx = F.shiftright(h, rem_bits)
    rem = h.bitwiseAND(F.lit((1 << rem_bits) - 1))
    rho = F.when(rem == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits + 1) - F.length(F.bin(rem))
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(F.col(by), idx.alias("idx"), rho.alias("rho"))
        .groupBy(by, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_by(registers: DataFrame, by: str, p: int = 12) -> DataFrame:
    """Per-group fold of ``hll_registers_by`` output into estimates:
    ``(by, approx_distinct)`` with the same closed formula + small-range
    linear-counting correction as the global ``hll_estimate``."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    folded = registers.groupBy(by).agg(
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("rho"))), F.lit(0.0)).alias(
            "_present_sum"
        ),
        F.count("*").alias("_n_present"),
    )
    zeros = F.lit(m) - F.col("_n_present")
    raw = F.lit(alpha * m * m) / (F.col("_present_sum") + zeros.cast("double"))
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return folded.select(F.col(by), F.round(est, 3).alias("approx_distinct"))


def hll_estimate(registers: DataFrame, p: int = 12) -> DataFrame:
    """Fold registers into the HLL cardinality estimate (one row,
    ``approx_distinct: double`` rounded to 3 decimals). Applies the
    standard small-range linear-counting correction when E <= 2.5m and
    empty registers exist — same closed formula the DuckDB oracle runs."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    folded = registers.agg(
        # coalesce: sum over zero registers is NULL; 0.0 routes the empty
        # sketch into the linear-counting branch, which yields exactly 0.
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("rho"))), F.lit(0.0)).alias(
            "_present_sum"
        ),
        F.count("*").alias("_n_present"),
    )
    zeros = F.lit(m) - F.col("_n_present")
    raw = F.lit(alpha * m * m) / (F.col("_present_sum") + zeros.cast("double"))
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return folded.select(F.round(est, 3).alias("approx_distinct"))


def hll_count_distinct(df: DataFrame, col: str, p: int = 12) -> DataFrame:
    """``hll_registers`` → ``hll_estimate`` in one call: a one-row
    DataFrame with the portable approximate distinct count of ``col``."""
    return hll_estimate(hll_registers(df, col, p), p)


def hll_union(*register_sets: DataFrame) -> DataFrame:
    """Union sketches by max-merging registers — ``hll_union(regs(A),
    regs(B))`` equals ``hll_registers(A ∪ B)`` EXACTLY (the HLL union
    property): per-day / per-source sketches fold into corpus sketches
    without touching raw data."""
    if not register_sets:
        raise ValueError("hll_union: need at least one register set")
    out = register_sets[0]
    for r in register_sets[1:]:
        out = out.unionByName(r)
    return out.groupBy("idx").agg(F.max("rho").alias("rho"))


def hll_set_estimates(regs_a: DataFrame, regs_b: DataFrame, p: int = 12) -> DataFrame:
    """Set-operation cardinality estimates from two HLL sketches alone:
    |A|, |B|, |A ∪ B| (exact-union sketch via register max-merge) and
    |A ∩ B| by inclusion-exclusion (clamped at 0 — the standard HLL
    intersection estimator; error grows as the true intersection shrinks
    relative to the union, so treat small intersections as "≈ 0").
    Answers "how many users/domains/fingerprints do these two 100 TB
    corpora share" from two 2^p-row summaries, no join of the raw data.
    Returns one row (est_a, est_b, est_union, est_intersection)."""
    ea = hll_estimate(regs_a, p).select(F.col("approx_distinct").alias("est_a"))
    eb = hll_estimate(regs_b, p).select(F.col("approx_distinct").alias("est_b"))
    eu = hll_estimate(hll_union(regs_a, regs_b), p).select(
        F.col("approx_distinct").alias("est_union")
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .withColumn(
            "est_intersection",
            F.round(
                F.greatest(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0.0)
                ),
                3,
            ),
        )
    )


def hll_standard_error(p: int = 12) -> float:
    """Theoretical relative standard error of HLL at precision ``p``:
    ``1.04 / sqrt(2^p)`` (~1.6% at p=12) — for test tolerances."""
    return 1.04 / math.sqrt(1 << p)


def cms_sketch(df: DataFrame, col: str, depth: int = 4, width: int = 2048) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over ``df[col]``:
    ``depth`` independent md5 hash rows × ``width`` counters, returned as
    ``(r, b, n)`` counter rows. Like the HLL above it is built from the
    portable md5 hash so a DuckDB oracle reproduces the IDENTICAL counters
    and therefore the identical estimates — integer-exact, no float drift.

    Scale shape: the per-row explode to ``depth`` (r, b) pairs collapses
    map-side (partial count agg), so the shuffle is bounded by
    ``depth·width`` keys per map task regardless of input size — sketch
    state is O(depth·width) at any scale. Counters from different
    partitions / days / sources merge by ``+`` per (r, b), which is
    what makes this the 100 TB path for "how often does each of these
    terms occur" when the full vocabulary groupBy is too wide to keep."""
    if depth < 1 or width < 2:
        raise ValueError(f"cms_sketch: need depth >= 1, width >= 2, got {depth}, {width}")
    v = F.col(col).cast("string")
    buckets = F.array(
        *[F.pmod(md5_bigint(v, salt=f"cms{r}:"), F.lit(width)) for r in range(depth)]
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(F.posexplode(buckets).alias("r", "b"))
        .groupBy("r", "b")
        .agg(F.count("*").alias("n"))
    )


def cms_lookup(
    sketch: DataFrame, values: list[str], depth: int = 4, width: int = 2048
) -> DataFrame:
    """Point-query the sketch for each probe value: estimate = min over the
    ``depth`` rows of the counter at ``(r, h_r(value))``, with absent
    counters read as 0. Returns ``(value, est)``; the estimate NEVER
    under-counts (CMS guarantee) and over-counts by at most the collision
    mass ``≈ e/width · N`` with probability ``1 - e^-depth``.

    The probe set is a literal VALUES relation (queries are contract-small)
    joined broadcast against the ``depth·width``-row sketch — no corpus
    access at lookup time at all."""
    spark = sketch.sparkSession
    probes = spark.createDataFrame([(x,) for x in values], "value string")
    v = F.col("value").cast("string")
    buckets = F.array(
        *[F.pmod(md5_bigint(v, salt=f"cms{r}:"), F.lit(width)) for r in range(depth)]
    )
    hashed = probes.select("value", F.posexplode(buckets).alias("r", "b"))
    return (
        hashed.join(F.broadcast(sketch), ["r", "b"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("est"))
    )


def cms_join_size(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two count-min sketches over the
    join keys (the CMS inner-product estimator, Cormode & Muthukrishnan
    2005 §4.2): ``|A ⋈ B| = Σ_k f_A(k)·f_B(k)``, estimated as the min over
    hash rows of ``Σ_b n_A(r,b)·n_B(r,b)``. Never under-estimates; the
    planner-style use is sizing a shuffle / choosing broadcast vs
    sort-merge from two ``depth·width``-row summaries WITHOUT running the
    join or re-scanning either input. Sketches must share depth/width/key
    normalization. Returns one row ``(est_join_size bigint)``."""
    joined = sketch_a.alias("a").join(
        sketch_b.alias("b"), ["r", "b"], "inner"
    )
    per_row = joined.groupBy("r").agg(
        F.sum(F.col("a.n") * F.col("b.n")).alias("_ip")
    )
    # a hash row with NO overlapping buckets is absent from per_row but its
    # inner product is 0 — re-anchor on sketch_a's row set so the min sees
    # it (lazily; no driver action, the row set is ≤ depth rows).
    rows = sketch_a.select("r").distinct()
    anchored = rows.join(per_row, "r", "left").select(
        F.coalesce(F.col("_ip"), F.lit(0)).alias("_ip")
    )
    return anchored.agg(
        F.coalesce(F.min("_ip"), F.lit(0)).cast("bigint").alias("est_join_size")
    )


def histogram_bins(
    df: DataFrame, col: str, lo: float, hi: float, bins: int = 64
) -> DataFrame:
    """Fixed-width histogram over ``[lo, hi)``: rows map to
    ``floor((x-lo)/w)`` (clamped to the edge bins, so out-of-range values
    land in bin 0 / bins-1 rather than vanishing). NULLs are skipped, like
    every other sketch here — greatest(NULL, 0) would otherwise silently
    pile null rows into bin 0 and skew quantiles/PSI. ONE map-side-combined
    groupBy over ≤ ``bins`` keys; bin counts from different partitions /
    days / sources merge by ``+`` — the mergeable-histogram property that
    makes this the scale path when ``percentile`` (full sort per group) is
    too expensive. Returns (bin, n, bin_lo) sorted by bin."""
    if not bins > 0 or not hi > lo:
        raise ValueError(f"histogram_bins: need bins > 0 and hi > lo, got {bins}, [{lo}, {hi})")
    w = (hi - lo) / bins
    b = F.least(
        F.greatest(F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    return (
        df.where(F.col(col).isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select("bin", "n", F.round(F.lit(lo) + F.col("bin") * F.lit(w), 6).alias("bin_lo"))
    )


def histogram_bins_by(
    df: DataFrame, col: str, by: str, lo: float, hi: float, bins: int = 64
) -> DataFrame:
    """Per-group fixed-width histogram — the sketch-per-key form of
    :func:`histogram_bins` (value distribution per source / event type /
    day). ONE map-side-combined groupBy over ≤ |groups|·bins keys; bin
    counts still ``+``-merge across partitions/epochs within each group.
    Returns (by, bin, n, bin_lo)."""
    if not bins > 0 or not hi > lo:
        raise ValueError(f"histogram_bins_by: need bins > 0 and hi > lo, got {bins}, [{lo}, {hi})")
    w = (hi - lo) / bins
    b = F.least(
        F.greatest(F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    return (
        df.where(F.col(col).isNotNull())
        .select(F.col(by), b.alias("bin"))
        .groupBy(by, "bin")
        .agg(F.count("*").alias("n"))
        .select(by, "bin", "n", F.round(F.lit(lo) + F.col("bin") * F.lit(w), 6).alias("bin_lo"))
    )


def histogram_quantiles_by(
    df: DataFrame, col: str, by: str, lo: float, hi: float, qs: list[float], bins: int = 64
) -> DataFrame:
    """Per-group approximate quantiles off the per-group histogram: for
    each group and q, the lower edge of the first bin whose per-group
    cumulative count reaches ``q · group_total`` — error ≤ one bin width,
    deterministic, engine-portable. The cumulative window partitions by
    the group over ≤ |groups|·bins histogram rows, so it never sees raw
    data; this is the scale path for "p95 length per source" where exact
    ``percentile`` would sort every group. Returns (by, q, approx_value)."""
    from pyspark.sql import Window

    histo = histogram_bins_by(df, col, by, lo, hi, bins)
    wspec = Window.partitionBy(by).orderBy("bin")
    cum = histo.select(
        by,
        "bin_lo",
        F.sum("n").over(wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
        F.sum("n").over(Window.partitionBy(by)).alias("total"),
    )
    picks = [
        F.min(F.when(F.col("cum") >= F.lit(q) * F.col("total"), F.col("bin_lo"))).alias(
            f"_q{i}"
        )
        for i, q in enumerate(qs)
    ]
    wide = cum.groupBy(by).agg(*picks)
    pairs = F.array(
        *[
            F.struct(F.lit(float(q)).alias("q"), F.col(f"_q{i}").alias("approx_value"))
            for i, q in enumerate(qs)
        ]
    )
    return wide.select(by, F.explode(pairs).alias("r")).select(by, "r.q", "r.approx_value")


def histogram_quantiles(
    df: DataFrame, col: str, lo: float, hi: float, qs: list[float], bins: int = 64
) -> DataFrame:
    """Approximate quantiles read off the fixed-bin histogram: for each q,
    the LOWER EDGE of the first bin whose cumulative count reaches
    ``q · total`` — error bounded by one bin width, deterministic, and
    engine-portable (the DuckDB oracle replays the same cumulative scan).
    The histogram is ≤ ``bins`` rows, so the cumulative window costs
    nothing regardless of input size. Returns (q, approx_value)."""
    from pyspark.sql import Window

    histo = histogram_bins(df, col, lo, hi, bins)
    cum = histo.select(
        "bin",
        "bin_lo",
        F.sum("n").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    picks = [
        F.min(F.when(F.col("cum") >= F.lit(q) * F.col("total"), F.col("bin_lo"))).alias(
            f"_q{i}"
        )
        for i, q in enumerate(qs)
    ]
    # _nbins guards the empty-input case: a global agg over zero histogram
    # rows still emits one all-NULL row, which would explode into len(qs)
    # (q, NULL) rows while the SQL-oracle cross join yields zero rows.
    wide = cum.agg(*picks, F.count("*").alias("_nbins")).where(F.col("_nbins") > 0)
    pairs = F.array(
        *[
            F.struct(F.lit(float(q)).alias("q"), F.col(f"_q{i}").alias("approx_value"))
            for i, q in enumerate(qs)
        ]
    )
    return wide.select(F.explode(pairs).alias("r")).select("r.q", "r.approx_value")


def psi_drift(
    df_ref: DataFrame,
    df_cur: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 64,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution of ``col``: PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref),
    the standard drift monitor for training-data pipelines (rule of thumb:
    < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted — gate retrains or
    quarantine an ingest day on it).

    Both sides reduce to the same MERGEABLE fixed-bin histogram
    (:func:`histogram_bins`) before anything is compared, so each 100 TB
    input costs exactly one map-side-combined groupBy over ≤ bins keys and
    the PSI fold itself runs on ≤ bins joined rows. Empty bins clamp to
    ``eps`` (the standard continuity correction — PSI is undefined at 0);
    NULL values are excluded on both sides (a null-rate change is a
    data-quality signal for ``profile_table``/expectations, not value
    drift). Returns one row ``(psi double, n_ref bigint, n_cur bigint)``
    counting non-null rows, PSI rounded to 6dp so the DuckDB oracle replay
    hash-matches despite the float ln.
    """
    href = histogram_bins(df_ref, col, lo, hi, bins).select(
        "bin", F.col("n").alias("n_ref")
    )
    hcur = histogram_bins(df_cur, col, lo, hi, bins).select(
        "bin", F.col("n").alias("n_cur")
    )
    joined = href.join(hcur, "bin", "full_outer").select(
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    # totals as a window over the ≤bins joined rows, NOT a separate agg +
    # crossJoin: that formulation re-derived `joined` twice (4 input scans,
    # no ReusedExchange), breaking the one-pass-per-input cost this
    # function exists to provide. The SinglePartition window is fine here —
    # it only ever sees ≤ bins rows.
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    terms = joined.select(
        F.greatest(
            F.col("n_ref") / F.sum("n_ref").over(w_all), F.lit(eps)
        ).alias("p"),
        F.greatest(
            F.col("n_cur") / F.sum("n_cur").over(w_all), F.lit(eps)
        ).alias("q"),
        "n_ref",
        "n_cur",
    )
    return terms.agg(
        F.round(F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))), 6).alias("psi"),
        F.sum("n_ref").cast("bigint").alias("n_ref"),
        F.sum("n_cur").cast("bigint").alias("n_cur"),
    )


def kmv_sketch_by(df: DataFrame, col: str, by: str, k: int = 256) -> DataFrame:
    """Per-group KMV (k-minimum-values / bottom-k) distinct sketch:
    ``(by, rank, h)`` = each group's k smallest distinct md5 hashes.
    The sketch family member HLL cannot replace: bottom-k sketches
    support set INTERSECTION estimates (Jaccard over the coordinated
    sample), where HLL only unions cleanly. [absent in reference —
    north-star extension]

    Scale shape: one distinct over (group, hash) — map-side combinable —
    then ONE window rank partitioned by the high-cardinality group key;
    everything past the distinct is sketch-sized (k rows per group).
    Sketches from different partitions/days merge by re-ranking the
    union's hashes and keeping the k smallest — the same mergeability
    contract as the HLL registers and CMS counters here.

    Deterministic: md5 hashing, integer ranks — bit-identical anywhere.
    """
    if k < 2:
        raise ValueError("kmv_sketch_by: k must be >= 2")
    h = md5_bigint(F.col(col).cast("string"))
    from pyspark.sql import Window

    dist = (
        df.where(F.col(col).isNotNull())
        .select(F.col(by), h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy(by).orderBy("h")
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(by, "rank", "h")
    )


def kmv_estimates(sketches: DataFrame, by: str, k: int = 256) -> DataFrame:
    """Fold per-group KMV sketches into distinct-count estimates:
    ``(by, n_sketch, approx_distinct)``. When a group has fewer than k
    distinct values the sketch IS the exact distinct set (estimate =
    sketch size); otherwise the classic unbiased estimator
    (k − 1)·2⁶⁰ / h_k from the k-th minimum hash. One sketch-sized
    groupBy — never touches raw data."""
    hash_space = float(1 << 60)
    agg = sketches.groupBy(by).agg(
        F.count("*").cast("bigint").alias("n_sketch"),
        F.max(F.when(F.col("rank") == k, F.col("h"))).alias("_hk"),
    )
    return agg.select(
        by,
        "n_sketch",
        F.when(F.col("_hk").isNull(), F.col("n_sketch").cast("double"))
        .otherwise(F.round(F.lit((k - 1) * hash_space) / F.col("_hk"), 6))
        .alias("approx_distinct"),
    )


def kmv_pair_overlap(
    sketches: DataFrame, by: str, k: int = 256
) -> DataFrame:
    """Pairwise set-overlap estimates from coordinated KMV sketches — the
    query HLL fundamentally cannot serve: for every group pair, take the
    k smallest hashes of the UNION of the two sketches, count how many
    sit in both, and scale: jaccard ≈ c/k', intersection ≈ jaccard ×
    union_estimate. Exact when both groups have < k distinct values
    (the sketch is the full set). [absent in reference]

    Scale shape: sketches are k rows per group, so the pair join is
    sketch-sized — |groups|²·k at worst, independent of corpus size; the
    per-pair re-rank runs over ≤ 2k rows per pair. Returns
    (group_a, group_b, k_union, n_common, jaccard, approx_intersection).
    """
    hash_space = float(1 << 60)
    a = sketches.select(
        F.col(by).alias("ga"), F.col("h").alias("ha"), F.col("rank").alias("ra")
    )
    b = sketches.select(
        F.col(by).alias("gb"), F.col("h").alias("hb"), F.col("rank").alias("rb")
    )
    # ordered group pairs: the ONLY cross product is |groups| × |groups|
    # over the tiny group list — sketch rows join in by key afterwards
    pairs = (
        a.select(F.col("ga")).distinct()
        .crossJoin(b.select(F.col("gb")).distinct())
        .filter(F.col("ga") < F.col("gb"))
    )
    # union of the two sketches per pair, tagged by membership
    left = pairs.join(a, "ga").select(
        "ga", "gb", F.col("ha").alias("h"), F.lit(1).alias("_ina"), F.lit(0).alias("_inb")
    )
    right = pairs.join(b, "gb").select(
        "ga", "gb", F.col("hb").alias("h"), F.lit(0).alias("_ina"), F.lit(1).alias("_inb")
    )
    uni = (
        left.unionByName(right)
        .groupBy("ga", "gb", "h")
        .agg(F.max("_ina").alias("ina"), F.max("_inb").alias("inb"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ga", "gb").orderBy("h")
    ranked = uni.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    per_pair = ranked.groupBy("ga", "gb").agg(
        F.count("*").cast("bigint").alias("k_union"),
        F.sum(F.col("ina") * F.col("inb")).cast("bigint").alias("n_common"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("_hk"),
    )
    union_est = F.when(
        F.col("_hk").isNull(), F.col("k_union").cast("double")
    ).otherwise(F.lit((k - 1) * hash_space) / F.col("_hk"))
    jac = F.col("n_common").cast("double") / F.col("k_union").cast("double")
    return per_pair.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "k_union",
        "n_common",
        F.round(jac, 6).alias("jaccard"),
        F.round(jac * union_est, 6).alias("approx_intersection"),
    )


def hashrank_sample(
    df: DataFrame, key_col: str, payload_cols: list[str], k: int = 512
) -> DataFrame:
    """Mergeable uniform row sample by hash rank — the bottom-k idea of KMV
    applied to ROWS instead of distinct values: keep the k rows whose
    md5(key) is smallest. Because "the k globally smallest hashes" is a
    property of the union, samples merge EXACTLY (union → re-rank →
    bottom-k ≡ sample of the union, pytest-proven), which per-partition
    reservoirs never do deterministically. With ≤ k rows the sample IS
    the table. [absent in reference — north-star extension]

    The payload travels with the sampled rows, so any downstream
    statistic — quantiles (:func:`sample_quantiles`), means, heavy-value
    inspection — reads k rows, never the corpus. ``key_col`` must be
    row-unique (an id); hashing it makes the sample reproducible and
    engine-portable (same md5 contract as every sketch here).

    Scale shape: one JVM-side hash + ONE global bottom-k. The rank window
    is unpartitioned but the TakeOrdered-style cost is bounded: each
    partition pre-truncates to its local k before the single-reducer
    rank (the orderBy-limit pushdown Spark already does for sort+limit).
    Returns (rank, h, *payload_cols).
    """
    if k < 1:
        raise ValueError("hashrank_sample: k must be >= 1")
    h = md5_bigint(F.col(key_col).cast("string"), salt="rs:")
    return (
        df.select(h.alias("h"), *payload_cols)
        .orderBy("h")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("h")).cast("int").alias("rank"),
            "h",
            *payload_cols,
        )
    )


def sample_quantiles(
    sample: DataFrame, value_col: str, ps: list[float], round_decimals: int = 6
) -> DataFrame:
    """Quantile estimates from a :func:`hashrank_sample`: the p-quantile is
    the sample's value at sorted index floor(p·(n−1)) — the "lower"
    interpolation, chosen because it is integer-exact and therefore
    hash-comparable across engines (no float interpolation to disagree
    on). Exact when the sample holds the whole table (n_rows ≤ k);
    otherwise a k-row order-statistic estimate whose error shrinks as
    1/√k independent of table size. Returns (p, n_sample, estimate)."""
    n = sample.count()
    if n == 0:
        raise ValueError("sample_quantiles: empty sample")
    w = Window.orderBy(F.col(value_col).asc())
    ranked = sample.select(
        F.col(value_col), F.row_number().over(w).cast("int").alias("_i")
    )
    spark = sample.sparkSession
    want = spark.createDataFrame(
        [(float(p), int(math.floor(p * (n - 1))) + 1) for p in ps],
        "p double, _i int",
    )
    return (
        ranked.join(F.broadcast(want), "_i")
        .select(
            "p",
            F.lit(n).cast("bigint").alias("n_sample"),
            (F.round(F.col(value_col), round_decimals) + F.lit(0.0)).alias("estimate"),
        )
        .orderBy("p")
    )


def _mg_reduce(counts: DataFrame, k: int, item_col: str, cnt_col: str) -> DataFrame:
    """The Misra-Gries reduction: subtract the (k+1)-th largest count from
    every entry and keep the positive ones — at most k survive. Bounded
    work: only the top-(k+1) rows can survive (an entry kept needs
    cnt > delta = the (k+1)-th largest, which puts it in the top k by
    value), so the reduction is a TakeOrdered of k+1 rows + a 1-row
    broadcast, never a global window."""
    top = counts.orderBy(F.desc(cnt_col), F.asc(item_col)).limit(k + 1)
    w = Window.orderBy(F.desc(cnt_col), F.asc(item_col))
    ranked = top.withColumn("_r", F.row_number().over(w))
    delta = ranked.filter(F.col("_r") == k + 1).select(
        F.col(cnt_col).alias("_delta")
    )
    return (
        ranked.filter(F.col("_r") <= k)
        .join(F.broadcast(delta), F.lit(True), "left")
        .select(
            item_col,
            (F.col(cnt_col) - F.coalesce(F.col("_delta"), F.lit(0)))
            .cast("bigint")
            .alias(cnt_col),
        )
        .filter(F.col(cnt_col) > 0)
    )


def mg_summary(df: DataFrame, col: str, k: int = 16) -> DataFrame:
    """Misra-Gries heavy-hitter summary with k counters: exact counts
    reduced by the (k+1)-th largest (the offline construction of the MG
    streaming summary). Guarantees: every stored count UNDERESTIMATES the
    true count by at most n/(k+1) (n = items seen), and any item with
    true count > n/(k+1) is guaranteed present — the deterministic
    heavy-hitter contract CMS (randomized, overestimates) does not give.
    [absent in reference — north-star extension; Misra-Gries 1982]

    Returns (item, cnt) rows, at most k. Scale shape: one map-side
    combinable count + a bounded TakeOrdered — the corpus never sorts."""
    if k < 1:
        raise ValueError("mg_summary: k must be >= 1")
    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("item"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return _mg_reduce(counts, k, "item", "cnt")


def mg_merge(a: DataFrame, b: DataFrame, k: int = 16) -> DataFrame:
    """Merge two MG summaries built with the same k: add counters
    pointwise, reduce by the combined (k+1)-th largest (Agarwal et al.
    2012, "Mergeable Summaries") — the error bounds ADD, so per-day /
    per-source summaries fold into a corpus summary with the same
    n/(k+1) total guarantee. Deterministic: pure count arithmetic."""
    u = (
        a.unionByName(b)
        .groupBy("item")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    return _mg_reduce(u, k, "item", "cnt")


def hashrank_sample_by(
    df: DataFrame,
    key_col: str,
    by: str,
    payload_cols: list[str],
    k: int = 128,
) -> DataFrame:
    """Per-group hash-rank sample: each group's k rows with the smallest
    md5(key) — :func:`hashrank_sample` with a group key, giving every
    group its own exactly-mergeable uniform sample (the stratified form:
    per-domain / per-language statistics each read k rows). ONE window
    rank partitioned by the high-cardinality group key; everything past
    the scan is sample-sized. Returns (by, rank, h, *payload_cols)."""
    if k < 1:
        raise ValueError("hashrank_sample_by: k must be >= 1")
    h = md5_bigint(F.col(key_col).cast("string"), salt="rs:")
    w = Window.partitionBy(by).orderBy("h")
    return (
        df.select(F.col(by), h.alias("h"), *payload_cols)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(by, "rank", "h", *payload_cols)
    )


def sample_quantiles_by(
    sample: DataFrame,
    by: str,
    value_col: str,
    ps: list[float],
    round_decimals: int = 6,
) -> DataFrame:
    """Per-group quantiles from a :func:`hashrank_sample_by` output — the
    same integer "lower" interpolation as :func:`sample_quantiles`,
    vectorized across groups: index floor(p·(n_g−1)) within each group's
    sorted sample. One sample-sized window + a broadcast of the p list.
    Returns (by, p, n_sample, estimate)."""
    spark = sample.sparkSession
    pdf = spark.createDataFrame([(float(p),) for p in ps], "p double")
    w = Window.partitionBy(by).orderBy(F.col(value_col).asc())
    ranked = sample.select(
        F.col(by),
        F.col(value_col),
        F.row_number().over(w).cast("bigint").alias("_i"),
        F.count("*").over(Window.partitionBy(by)).cast("bigint").alias("_n"),
    )
    return (
        ranked.crossJoin(F.broadcast(pdf))
        .filter(F.col("_i") == F.floor(F.col("p") * (F.col("_n") - 1)) + 1)
        .select(
            by,
            "p",
            F.col("_n").alias("n_sample"),
            (F.round(F.col(value_col), round_decimals) + F.lit(0.0)).alias("estimate"),
        )
    )
