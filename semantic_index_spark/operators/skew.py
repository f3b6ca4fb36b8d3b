"""Skew handling, deterministic sampling, and scale-safe total ordering.

[absent in reference — north-star extension] The levers the brief calls
out for 100 TB: salting for skewed shuffle keys, reproducible sampling
for training-data splits, and global ranking that never funnels the
corpus through one reducer.

  * ``salted_agg`` — two-stage aggregation for LOW-cardinality / heavy-key
    group-bys: stage 1 aggregates on (keys, salt) spreading each hot key
    over ``salt_n`` reducers, stage 2 merges the partials per key. The
    result is bit-identical to the direct groupBy (sum/count/min/max are
    associative; avg is derived sum/count), which is exactly what the
    DuckDB oracle checks. AQE's skew handling covers *join* skew; aggregate
    skew on a 3-distinct-value key still funnels to 3 reducers without
    salting.
  * ``hash_split`` — md5-bucket sampling: membership is a
    pure function of the key, so samples are reproducible across runs,
    engines (mirrored in SQL), and growing corpora — the property random()
    sampling lacks and training pipelines need for stable train/test
    splits. No shuffle: a pushed-down-able filter / projection.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from semantic_index_spark.functions.text import md5_bigint
from semantic_index_spark.session import pin


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str] | None = None,
    count_alias: str | None = None,
    salt_n: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Skew-safe groupBy: ``sum_cols`` maps input column -> output alias;
    ``count_alias`` adds a row count. Any salt assignment yields the same
    final result (stage 2 re-merges), so the salt is just ``rand(seed)``
    spread for even reducer load."""
    sum_cols = sum_cols or {}
    salted = df.withColumn("_salt", F.floor(F.rand(seed) * salt_n).cast("int"))
    stage1 = salted.groupBy(*keys, "_salt").agg(
        *[F.sum(c).alias(f"_s_{a}") for c, a in sum_cols.items()],
        F.count("*").alias("_n"),
    )
    aggs = [F.sum(f"_s_{a}").alias(a) for a in sum_cols.values()]
    if count_alias:
        aggs.append(F.sum("_n").alias(count_alias))
    return stage1.groupBy(*keys).agg(*aggs)


def _bucket(key: Column | str, buckets: int = 10000) -> Column:
    return F.pmod(md5_bigint(F.col(key) if isinstance(key, str) else key, salt="smp:"), F.lit(buckets))


def hash_split(
    df: DataFrame, key_col: str, test_fraction: float = 0.1, buckets: int = 10000
) -> DataFrame:
    """Reproducible train/test split label per row (`split` column)."""
    return df.withColumn(
        "split",
        F.when(
            _bucket(key_col, buckets) < int(round(test_fraction * buckets)), F.lit("test")
        ).otherwise(F.lit("train")),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    row_key: str,
    salt_n: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join for a HOT join key when the small side is still
    too big (or too row-multiplying) to broadcast: salt the big side with a
    deterministic per-row bucket (md5 of ``row_key``, so replays shuffle
    identically) and replicate each small-side row across all ``salt_n``
    salts with a bounded explode. The join key becomes (key, salt): one hot
    key now spreads over ``salt_n`` reducers instead of one. Result is
    row-identical to the plain join (every big row still meets every
    matching small row exactly once — via its own salt copy).

    This is the manual fallback for the cases AQE skew-join can't fix:
    skew that materializes AFTER an upstream stage (AQE only splits
    map-output partitions it can measure) or sinks that require a fixed
    partitioning. ``salt_n`` multiplies the small side — keep it ≤ low
    hundreds. ``how`` supports inner/left (the big side keeps its rows)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join: how must be inner or left, got {how!r}")
    # coalesce BEFORE hashing: md5(NULL) is NULL, so an un-coalesced NULL
    # row_key would yield a NULL salt that matches nothing — silently
    # dropping (inner) or null-extending (left) rows the plain join matches
    b = big.withColumn(
        "_salt",
        F.pmod(
            md5_bigint(F.coalesce(F.col(row_key).cast("string"), F.lit("")), salt="sj:"),
            F.lit(salt_n),
        ),
    )
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)).cast("array<bigint>"))
    )
    return b.join(s, [on, "_salt"], how).drop("_salt")


def stratified_sample(
    df: DataFrame, stratum_col: str, key_col: str, n_per_stratum: int
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer if the stratum is
    smaller), chosen deterministically: rank rows inside each stratum by
    (md5(key), key) and keep the first n — the same rows on every run, every
    engine, and after corpus growth appends rows that hash later.

    Scale shape: one hash-shuffle on the stratum key; ranking is a
    per-stratum sort. For HUGE strata, pre-filter on the SAME hash —
    ``df.filter(md5_bigint(key, salt="strat:") < t)`` — before calling this:
    that keep-set is a prefix of this ranking order, so the result is
    unchanged whenever ≥ n rows per stratum survive the pre-filter, and the
    sort sees a few·n candidates instead of the whole stratum.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        md5_bigint(F.col(key_col).cast("string"), salt="strat:"), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def global_ranks(
    df: DataFrame,
    order_cols: list[str],
    rank_alias: str = "rank",
    partitions: int | None = None,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order_cols)`` WITHOUT the
    single-reducer window. A bare unpartitioned window plans as
    ``Exchange SinglePartition`` — every row through one task, the classic
    100 TB killer. Instead, the zipWithIndex shape in pure DataFrame ops:

      1. ``repartitionByRange(order_cols).sortWithinPartitions`` —
         partition *p* holds a contiguous key range, ranges ascend with
         partition id, rows sorted inside. ONE corpus-sized shuffle —
         the floor for any total ordering.
      2. ``monotonically_increasing_id()`` on the sorted rows encodes
         ``partition_id << 33 | row_offset`` — per-partition id and local
         rank in one JVM expression, no window, no second exchange.
      3. per-partition counts (one row per partition) → exclusive
         prefix-sum offsets, broadcast back; global rank = offset + local.

    ``order_cols`` must be a TOTAL order (include a unique tiebreaker):
    ties straddling a range boundary would otherwise rank
    nondeterministically. Any boundary placement yields the same ranks —
    only the (offset, local) split differs — but the sizes branch and the
    rank branch must see the SAME placement, and range boundaries come
    from RDD-id-seeded sampling, so the sorted/numbered rows are pinned
    with ``session.pin`` before fanning out (a global total order is
    a materialization-scale op regardless; the pin makes the second
    pass read it instead of re-shuffling). The offsets prefix-sum does use
    a 1-partition window, on |partitions| rows — O(thousands) at any data
    scale, never O(corpus)."""
    from pyspark.sql import Window

    cols = [F.col(c) for c in order_cols]
    part = df.repartitionByRange(partitions, *cols) if partitions else df.repartitionByRange(*cols)
    local = (
        part.sortWithinPartitions(*cols)
        # one nondeterministic expression instance; pid/lrn derived from it
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mid"), 33))
        .withColumn("_lrn", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + F.lit(1))
        .drop("_mid")
        .transform(pin, "global_ranks: local", "eager")
    )
    sizes = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_alias, (F.col("_off") + F.col("_lrn")).cast("bigint"))
        .drop("_pid", "_lrn", "_off")
    )


def grouped_ranks(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    rank_alias: str = "rank",
    count_alias: str | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Per-group ``row_number()`` + group size WITHOUT
    ``Window.partitionBy(low_cardinality_key)`` — the form that funnels a
    hot group's entire row set through one reducer (5 market segments ⇒
    a fifth of the corpus per task at 100 TB). Instead:

      1. ``global_ranks`` over ``group_cols + order_cols`` — the range-
         partitioned zipWithIndex shape: a group SPANS as many range
         partitions as its size demands, so no reducer ever holds a whole
         group. Within a group the global ranks are contiguous.
      2. one mergeable aggregate per group (min global rank + count),
         broadcast back; per-group rank = global − group_min + 1.

    ``order_cols`` must make ``group_cols + order_cols`` a TOTAL order
    (unique tiebreaker), same contract as ``global_ranks``. For DESC
    dimensions pre-compute a negated/inverted sort column. Distribution
    measures follow arithmetically from (rank, n): percent_rank =
    (rank−1)/(n−1), cume_dist = rank/n, ntile by the ceil/floor split —
    see ``relational.window_distribution`` for the worked demo."""
    g = global_ranks(df, list(group_cols) + list(order_cols), rank_alias="_gr", partitions=partitions)
    stats = g.groupBy(*group_cols).agg(
        F.min("_gr").alias("_gmin"), F.count("*").alias("_gn")
    )
    out = (
        g.join(F.broadcast(stats), list(group_cols))
        .withColumn(rank_alias, (F.col("_gr") - F.col("_gmin") + 1).cast("bigint"))
    )
    if count_alias:
        out = out.withColumn(count_alias, F.col("_gn").cast("bigint"))
    return out.drop("_gr", "_gmin", "_gn")


def weighted_mix(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    buckets: int = 10000,
) -> DataFrame:
    """Deterministic corpus mixing: each group's rows appear with expected
    multiplicity ``weights[group]`` — 0.1 = 10% downsample, 2.5 = "2.5
    epochs" upsample (2 guaranteed copies + a 50% chance of a third),
    absent/0 = drop. The production lever for re-weighting sources (wiki
    up, crawl down) in a training mix.

    copies = floor(w) + 1{u < frac(w)} with u = the same md5 bucket
    ``hash_split`` uses, so the fractional keep-set is reproducible
    across runs/engines and nests: the rows kept at w=0.1 are a subset of
    those kept at w=0.2. Shuffle-free — a map-side filter + bounded
    sequence-explode; ``copy_idx`` (1..copies) keeps replicas addressable
    downstream. Weight application is a broadcast-free literal MAP lookup,
    never a join."""
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"weighted_mix: weights must be >= 0, got {weights}")
    pairs: list[Column] = []
    for g, w in weights.items():
        pairs += [F.lit(g), F.lit(float(w))]
    w_col = (
        F.coalesce(
            F.element_at(F.create_map(*pairs), F.col(group_col)), F.lit(0.0)
        )
        if pairs
        else F.lit(0.0)
    )
    frac_keep = (_bucket(key_col, buckets).cast("double") / buckets) < (
        w_col - F.floor(w_col)
    )
    copies = (F.floor(w_col) + F.when(frac_keep, 1).otherwise(0)).cast("int")
    return (
        df.withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("_copies"))))
        .drop("_copies")
    )


def capped_top_n(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    n: int,
    salt_n: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Skew-safe "keep at most ``n`` rows per group" (per-domain corpus
    caps, per-query candidate caps). The direct
    ``row_number() OVER (PARTITION BY group ORDER BY ...) <= n`` funnels a
    hot group's ENTIRE row set through one reducer — the per-key analogue
    of the SinglePartition window. Two stages fix that:

      1. rank within ``(group, salt)`` (salt = ``rand(seed)`` spread; any
         assignment works) and keep ≤ ``n`` per salt cell — a hot group's
         rows spread over ``salt_n`` reducers, and each cell's survivors
         are bounded;
      2. rank the ≤ ``salt_n·n`` survivors per group and keep ≤ ``n``.

    Row-identical to the direct window: every true top-``n`` row is top-n
    within its salt cell (a subset can only rank it higher), so stage 1
    never drops a winner. ``order_by`` must be a TOTAL order (include a
    unique tiebreaker) or both forms are nondeterministic under ties."""
    from pyspark.sql import Window

    if n < 1 or salt_n < 1:
        raise ValueError(f"capped_top_n: need n >= 1 and salt_n >= 1, got {n}, {salt_n}")
    salted = df.withColumn("_salt", F.floor(F.rand(seed) * salt_n).cast("int"))
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_by)
    stage1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= n)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        stage1.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def skew_profile(
    df: DataFrame, key_cols: list[str], top_n: int = 10
) -> DataFrame:
    """Shuffle-key skew diagnostics: the ``top_n`` heaviest keys with their
    row count, share of all rows, and ratio to the mean key load — the
    numbers that decide whether a join/agg on these keys needs salting
    (ratio ≫ 1 ⇒ one reducer owns the key) and what ``salt_n`` to pick
    (≈ ratio). Cost: the same ONE map-side-combined groupBy the real
    aggregation would run, plus a ≤ |keys|-row summary agg; the top-n pick
    is a TakeOrderedAndProject, never a global sort."""
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("key_rows"))
    totals = counts.agg(
        F.sum("key_rows").alias("_total"), F.count("*").alias("_nkeys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *key_cols,
            "key_rows",
            F.round(F.col("key_rows") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("key_rows") * F.col("_nkeys") / F.col("_total"), 3
            ).alias("skew_ratio"),
        )
        .orderBy(F.col("key_rows").desc(), *key_cols)
        .limit(top_n)
    )


def bloom_filtered_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    m: int = 1 << 18,
    k: int = 4,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with a DIY Bloom runtime filter: build the portable Bloom
    over ``small``'s join keys and screen ``big``'s rows BEFORE the join
    shuffle. Rows whose key is definitely absent from ``small`` never
    enter the exchange — for selective joins (a dim table matching 1% of
    a 100 TB fact table) that is a ~100× cut in shuffled bytes. The result
    is ROW-IDENTICAL to the plain join: Bloom has no false negatives, so
    no matching row is ever screened out, and false positives merely ride
    to the join and fail to match there (inner/semi semantics only — an
    outer join must keep the screened-out rows, so screening would change
    its result).

    This is the manual form of Spark's conf-driven runtime bloom
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) for when you want the filter to survive a
    materialization boundary — e.g. screen once, write the survivors, run
    several joins against them — or to ship the filter to another job as
    a parquet table."""
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(
            f"bloom_filtered_join: no-false-negative screening preserves only "
            f"inner/semi joins, got {how!r}"
        )
    from semantic_index_spark.functions import bloom as B

    bits = B.bloom_bits(small.select(F.col(on)), on, m=m, k=k)
    # probe once, keep the maybe-members — the join input is the complement
    # of bloom_definitely_new's screen.
    probed = B.bloom_contains(bits, big, on, m=m, k=k)
    kept = probed.where(F.col("maybe_member")).drop("maybe_member")
    return kept.join(small, on, how)


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis–Spirakis A-Res scheme — each row draws a uniform
    u ∈ (0, 1] from a reproducible md5 hash of its key and competes with
    sort key ``u^(1/w)``; the top ``n`` keys are EXACTLY a weight-
    proportional sample without replacement (Efraimidis & Spirakis 2006).

    Why this and not ``rand()``: the hash-derived uniform makes the sample
    a pure function of the data — stable across runs, engines (the DuckDB
    oracle replays the same md5 arithmetic), retries, and executor
    failures, which is what a reproducible training-data pipeline needs
    from its sampling step.

    Scale: the competition is a global top-n on a computed column —
    planned as TakeOrderedAndProject (per-partition heaps of n, then an
    n·partitions merge on the driver-side single reducer), NO global sort
    and no full shuffle. Rows with NULL, zero, or negative weight can
    never win and are filtered up front. Returns the sampled rows +
    ``sample_key`` (rounded; ordering ties at 6 decimals are broken by
    the id hash inside the unrounded double, which engines agree on
    bit-for-bit).
    """
    # u in (0, 1]: (h + 1) / 2^60 over the 60-bit md5 prefix — +1 keeps
    # ln/pow away from u=0
    u = (md5_bigint(F.col(key_col).cast("string"), salt="ws:") + 1) / F.lit(
        float(1 << 60)
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn(
            "sample_key", F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
        )
        .orderBy(F.desc("sample_key"), F.col(key_col))
        .limit(n)
        .withColumn("sample_key", F.round("sample_key", 6))
    )


def stratified_split(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    fractions: dict[str, int],
    seed: str = "strat:",
) -> DataFrame:
    """EXACT-proportion stratified split: within every stratum, assign
    folds so the realized counts match ``fractions`` to within one row —
    the guarantee :func:`hash_split` deliberately trades away (a hash
    split's per-stratum proportions only converge in expectation, which
    under-represents small strata exactly where representation matters).
    ``fractions`` maps fold name → integer weight (e.g. {"train": 8,
    "val": 1, "test": 1} for 80/10/10).

    One keyed window per stratum: rows rank by a salted md5 of the key
    (deterministic shuffle order, engine-portable), and fold boundaries
    are integer arithmetic over (rank-1)·total_weight // n — no floats,
    no sampling, exact on every engine. Strata partition the corpus, so
    the window parallelizes across strata; a single giant stratum sorts
    N/|strata| rows — the same per-partition-sort cost a writer pays.
    Returns the input columns plus ``fold``.
    [absent in reference — north-star extension]"""
    from pyspark.sql import Window

    if not fractions or any(w <= 0 for w in fractions.values()):
        raise ValueError("fractions must map fold -> positive integer weight")
    total = sum(fractions.values())
    w = Window.partitionBy(stratum_col).orderBy(
        md5_bigint(F.col(key_col).cast("string"), salt=seed), key_col
    )
    ws = Window.partitionBy(stratum_col)
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(ws)
    )
    # slot in [0, total): pure integer arithmetic — exact proportions
    slot = F.expr(f"CAST(((_rn - 1) * {total}) DIV _n AS BIGINT)")
    fold = None
    cum = 0
    for name, weight in fractions.items():
        cum += weight
        cond = slot < cum
        fold = F.when(cond, name) if fold is None else fold.when(cond, name)
    return ranked.withColumn("fold", fold).drop("_rn", "_n")
