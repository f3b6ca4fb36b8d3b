"""Time-series operators Spark lacks as built-ins: as-of join and banded
range join.

[absent in reference — north-star extension] The reference has no temporal
operators at all (its only data is (item, embedding) —
`SemanticRecord.cs:29-34`); these cover the time-series surface a
training-data/event pipeline needs, built so the plans survive 100 TB:

  * ``asof_join`` — the classic "latest right row at or before each left
    row per key" join. NOT implemented as a range theta-join (which Spark
    would plan as a broadcast-nested-loop and explode at scale) but as
    union → single shuffle on the key → window ``last(ignorenulls)``:
    cost is one sort-shuffle of |L|+|R| rows, the same shape as a
    sort-merge join, with zero risk of pair blow-up.
  * ``banded_range_join`` — point-in-interval join against a SMALL interval
    table: broadcast the intervals and let the non-equi predicate filter
    inside the broadcast join. For interval tables too big to broadcast,
    the idiomatic rewrite is bucketing both sides to a common grid and
    equi-joining on the bucket — provided here as ``bucketed_range_join``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from semantic_index_spark.session import pin


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right_ts <= left_ts`` for the same ``on`` key (NULLs where no right
    row precedes). Returns all left columns plus ``<value_col><suffix>``
    and ``<right_ts><suffix>``.

    Plan: tag sides, union, one window over (key) ordered by
    (ts, side) — right rows sort before left rows at equal timestamps so a
    same-instant right row IS visible, matching ASOF semantics — then keep
    left rows. One shuffle total; no range cross-product ever exists.

    Determinism: right-side duplicates at the same (key, ts) resolve to
    the row with the GREATEST (value_cols..., ts) tuple — the window order
    tiebreaks on the right payload so `last()` cannot depend on partition
    layout. Pre-dedup the right side if a different resolution is wanted.

    The right payload travels as ONE struct so every ``<col>_asof`` value
    comes from the SAME right row — per-column ``last(ignorenulls)`` would
    stitch together phantom rows whenever a payload column is NULL.
    """
    from pyspark.sql.types import StructField, StructType

    value_cols = value_cols or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    payload_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in value_cols]
        + [StructField("__ts", right.schema[right_ts].dataType)]
    )
    lhs = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left.columns if c not in (on,)],
        F.lit(None).cast(payload_type).alias("__r"),
    )
    rhs = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != on],
        F.struct(
            *[F.col(c).alias(c) for c in value_cols],
            F.col(right_ts).alias("__ts"),
        ).alias("__r"),
    )
    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_side", F.col("__r").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = lhs.unionByName(rhs).select(
        "*", F.last("__r", ignorenulls=True).over(w).alias("__fill")
    )
    keep = [on] + [c for c in left.columns if c != on]
    return filled.filter(F.col("_side") == 1).select(
        *keep,
        *[F.col("__fill")[c].alias(f"{c}{suffix}") for c in value_cols],
        F.col("__fill")["__ts"].alias(f"{right_ts}{suffix}"),
    )


def banded_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
) -> DataFrame:
    """Point-in-[lo, hi) join against a SMALL interval table: broadcast the
    intervals; the non-equi predicate is evaluated inside the broadcast
    join (no shuffle of the big side — but the nested-loop probe IS
    per-partition serial, so an under-partitioned input is re-parallelized
    first). Inclusive lo, exclusive hi."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(points).join(
        F.broadcast(intervals),
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col)),
    )


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Range join for interval tables too big to broadcast: overlay a fixed
    grid, explode each interval to the buckets it overlaps, equi-join on
    the bucket, then re-check the exact predicate. Shuffle is
    hash-partitioned on the bucket key — the scale path when both sides are
    huge. ``bucket_width`` should be ≥ the typical interval width so the
    explode factor stays ~1-2."""
    pb = points.withColumn(
        "_bucket", F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    )
    # Candidate buckets span floor(lo/w)..floor(hi/w) INCLUSIVE — the exact
    # predicate below prunes the (at most one) surplus bucket when hi sits on
    # a boundary. No epsilon: subtracting one would drop points lying within
    # epsilon below hi. Empty intervals (hi <= lo) match nothing and are
    # dropped up front so F.sequence never sees a descending range.
    ib = intervals.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    return (
        pb.join(ib, "_bucket")
        .filter((F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col)))
        .drop("_bucket")
    )


def scd2_history(
    changes: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    attr: str = "event_type",
    tiebreak: str | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log.

    Collapses consecutive rows whose ``attr`` did not change (per ``key``,
    in ``ts`` order, ``tiebreak`` disambiguating same-instant changes),
    then stitches validity intervals: each surviving change is valid from
    its own timestamp until the NEXT change's timestamp (NULL valid_to =
    the current version). The warehouse-standard CDC shape — MERGE-based
    SCD2 engines produce exactly these rows.

    Scale: both windows partition by the same ``key``, so Spark plans ONE
    hash shuffle whose sort order the lag-filter and the lead reuse; cost
    is a single sort-shuffle of the change log, no self-join and no
    range join. Returns (key, attr, valid_from, valid_to, is_current).
    """
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    # row_number (not a prev-IS-NULL test) marks the first version so a
    # legitimate NULL first attr is kept; eqNullSafe collapses NULL→NULL
    # repeats the same way it collapses value repeats.
    tr = (
        changes.withColumn("_prev", F.lag(attr).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) | ~F.col(attr).eqNullSafe(F.col("_prev")))
    )
    return tr.select(
        F.col(key),
        F.col(attr),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(Window.partitionBy(key).orderBy(*order)).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel step times per user: step k's time is the EARLIEST
    event of type ``steps[k]`` at-or-after step k-1's time (the standard
    greedy funnel semantics — same-instant events count for the next
    step).

    Scale shape: irrelevant event types are filtered BEFORE the shuffle,
    then ONE groupBy collects each user's per-step timestamp lists
    (bounded by that user's activity, not corpus size) and the k-step
    chain evaluates JVM-side with array HOFs — no k-way self-join, no
    re-shuffle per step. Returns (user, step0_ts..step{k-1}_ts); a NULL
    step means the user never converted that far."""
    if not steps:
        raise ValueError("funnel: need at least one step")
    per_user = (
        # a NULL user is not a user: without this filter every anonymous
        # event would pool into one NULL pseudo-user that "converts".
        events.filter(F.col(user_col).isNotNull() & F.col(type_col).isin(list(steps)))
        .groupBy(user_col)
        .agg(
            *[
                F.sort_array(
                    F.collect_list(F.when(F.col(type_col) == s, F.col(ts_col)))
                ).alias(f"_s{i}")
                for i, s in enumerate(steps)
            ]
        )
    )
    t_prev = None
    for i in range(len(steps)):
        arr = F.col(f"_s{i}")
        if t_prev is None:
            t = F.array_min(arr)
        else:
            # NULL t_prev (user never reached step i-1) makes the lambda
            # predicate NULL -> filter drops all -> array_min NULL: the
            # not-converted state cascades without special-casing.
            prev = t_prev
            t = F.array_min(F.filter(arr, lambda x: x >= prev))
        per_user = per_user.withColumn(f"step{i}_ts", t)
        t_prev = F.col(f"step{i}_ts")
    return per_user.select(user_col, *[f"step{i}_ts" for i in range(len(steps))])


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-activity period
    (their cohort), counted per (cohort, period_offset) they were active
    in. TWO aggregations, both hash-partitioned on the user — the
    user-period dedup partial-aggregates map-side, and the cohort join is
    co-partitioned with it (no extra exchange). Returns
    (cohort, period_offset, n_users)."""
    fixed_days = {"week": 7, "day": 1}
    if granularity not in fixed_days:
        # months/quarters have no fixed day count, so the offset arithmetic
        # below cannot represent them — reject rather than mis-bucket.
        raise ValueError(
            f"retention_cohorts: granularity must be one of {sorted(fixed_days)}, "
            f"got {granularity!r}"
        )
    periods = events.select(
        user_col, F.date_trunc(granularity, F.col(ts_col)).alias("_p")
    ).distinct()
    firsts = periods.groupBy(user_col).agg(F.min("_p").alias("_cohort"))
    days_per = fixed_days[granularity]
    return (
        periods.join(firsts, user_col)
        .groupBy(
            F.col("_cohort").alias("cohort"),
            F.expr(f"datediff(_p, _cohort) div {days_per}").cast("int").alias(
                "period_offset"
            ),
        )
        .agg(F.count_distinct(F.col(user_col)).alias("n_users"))
    )


def mad_outliers(
    df: DataFrame, value_col: str, by: str, k: float = 3.5
) -> DataFrame:
    """Robust per-group anomaly flagging via the modified z-score
    (Iglewicz & Hoaglin 1993): z = 0.6745·(v − median) / MAD, flag |z| > k
    (3.5 is their recommended cutoff). Median/MAD instead of mean/stddev so
    the anomalies themselves can't drag the baseline — the standard monitor
    for "did this metric go weird today" over a pipeline's event streams.

    Two grouped percentile passes (median, then median absolute deviation)
    whose |groups|-row results BROADCAST back onto the stream — the data
    shuffles only by the group key, twice, and never sorts globally; the
    deviation frame is pinned (``session.pin``) so the MAD pass and
    the final flagging read it once instead of re-deriving the lineage. At
    100 TB swap the exact ``percentile`` for ``approx_percentile`` (KLL
    sketch, mergeable partials) — same plan shape, bounded memory; the
    exact form here is what the cross-engine oracle can verify. A group
    with MAD = 0 (constant metric) flags nothing: z is NULL by convention
    rather than infinite.

    Appends (group_median, group_mad, robust_z, is_outlier) to ``df``.
    """
    med = df.groupBy(by).agg(
        F.expr(f"percentile({value_col}, 0.5D)").alias("group_median")
    )
    # pin the deviations once: without this, `mad` and the final join each
    # re-derive `dev` (and `med` inside it) from the source — 4 input scans
    # instead of the two documented percentile passes.
    dev = (
        df.join(F.broadcast(med), by)
        .withColumn("_absdev", F.abs(F.col(value_col) - F.col("group_median")))
        .transform(pin, "mad_outliers: dev", "eager")
    )
    mad = dev.groupBy(by).agg(
        F.expr("percentile(_absdev, 0.5D)").alias("group_mad")
    )
    z = F.lit(0.6745) * (F.col(value_col) - F.col("group_median")) / F.nullif(
        F.col("group_mad"), F.lit(0.0)
    )
    return (
        dev.join(F.broadcast(mad), by)
        .withColumn("robust_z", z)
        .withColumn(
            "is_outlier", F.coalesce(F.abs(F.col("robust_z")) > F.lit(k), F.lit(False))
        )
        .drop("_absdev")
    )


def time_decayed_sum(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: str,
    half_life_days: float,
) -> DataFrame:
    """Exponentially time-decayed sum per group — the "recency-weighted
    engagement score" every feed-ranking / source-prioritization pipeline
    maintains: score(g) = Σ value·0.5^(age_days / half_life), with age
    measured back from the dataset's max timestamp (so the metric is a
    pure function of the data — reproducible across engines and runs).

    Scale: the anchor is a 1-row ``max(ts)`` aggregate broadcast onto the
    stream (BroadcastNestedLoopJoin of a single row — constant cost), the
    decay factor is a codegen'd ``pow``, and the scored rows partial-
    aggregate map-side into one shuffle on the group key. Equivalent
    streaming form: fold ``value·0.5^((now-ts)/hl)`` into a running sum and
    rescale by ``0.5^(Δnow/hl)`` on read — the decayed sum is mergeable,
    which is exactly why this formula (and not a sliding window) is the
    scale idiom. Returns (by, decayed_sum, n_events).
    """
    # TIMESTAMP_NTZ (what parquet readers often surface) cannot cast to
    # double; normalize to TIMESTAMP first — session tz is UTC, so the
    # naive instant is preserved and matches the oracle's epoch arithmetic
    ts_sec = F.col(ts_col).cast("timestamp").cast("double")
    anchor = df.select(ts_sec.alias("_t")).agg(F.max("_t").alias("_now"))
    age_days = (F.col("_now") - ts_sec) / F.lit(86400.0)
    return (
        df.crossJoin(F.broadcast(anchor))
        .withColumn(
            "_w",
            F.col(value_col) * F.pow(F.lit(0.5), age_days / F.lit(half_life_days)),
        )
        .groupBy(by)
        .agg(
            F.round(F.sum("_w"), 6).alias("decayed_sum"),
            F.count(value_col).cast("bigint").alias("n_events"),
        )
    )


def seasonal_anomaly(
    df: DataFrame,
    ts_col: str,
    by: str,
    k: float = 3.0,
) -> DataFrame:
    """Seasonal-baseline anomaly detection on event VOLUME: bucket events
    into (group, date, hour-of-day) counts, take each (group, hour-of-day)
    slot's mean/stddev across days as the seasonal baseline, and flag
    buckets whose count z-scores beyond ``k``. This is the standard
    "traffic looks weird for 3am" monitor — the hour-of-day season absorbs
    the diurnal cycle that a global mean would smear into false positives.

    Only OBSERVED buckets participate: an hour with zero events yields no
    row (detecting silence needs a dense calendar spine — generate one
    with ``sequence()`` and left-join if that matters for the deployment).

    Scale: two hash aggregations — (group, date, hour) bucketing with
    map-side combine, then the per-(group, hour) moments over the ~N_days×24
    baseline rows — and a broadcast join back. stddev is the SAMPLE stddev
    (portable across engines); single-day slots have NULL stddev and flag
    nothing. Returns the bucket rows + (baseline_mean, baseline_std, zscore,
    is_anomaly)."""
    buckets = df.groupBy(
        F.col(by),
        F.to_date(ts_col).alias("bucket_date"),
        F.hour(ts_col).alias("hour_of_day"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    baseline = buckets.groupBy(by, "hour_of_day").agg(
        F.round(F.avg("n"), 6).alias("baseline_mean"),
        F.round(F.stddev_samp("n"), 6).alias("baseline_std"),
    )
    z = (F.col("n") - F.col("baseline_mean")) / F.nullif(
        F.col("baseline_std"), F.lit(0.0)
    )
    return (
        buckets.join(F.broadcast(baseline), [by, "hour_of_day"])
        .withColumn("zscore", F.round(z, 6))
        .withColumn(
            "is_anomaly", F.coalesce(F.abs(F.col("zscore")) > F.lit(k), F.lit(False))
        )
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    lo_a: str,
    hi_a: str,
    lo_b: str,
    hi_b: str,
    bucket_width: float,
) -> DataFrame:
    """Overlap join between TWO interval tables that are both too big to
    broadcast — half-open semantics: [lo_a, hi_a) ∩ [lo_b, hi_b) ≠ ∅, i.e.
    ``lo_a < hi_b AND lo_b < hi_a``. The naive theta-join is a cartesian
    product; this overlays the same fixed grid as
    :func:`bucketed_range_join` on BOTH sides, explodes each interval to
    its covering buckets, and hash-equi-joins on the bucket.

    The usual duplicate problem (a pair sharing k buckets appears k times,
    forcing an expensive DISTINCT over the full result) is eliminated
    structurally: a pair is emitted ONLY in the bucket containing the
    overlap's start, ``floor(max(lo_a, lo_b) / w)`` — exactly one bucket
    per qualifying pair, so the result needs no dedup shuffle at all.
    Pick ``bucket_width`` ≥ the typical interval width (explode factor
    ~1-2); column names must be disjoint across the two inputs."""
    clash = set(a.columns) & set(b.columns)
    if clash:
        raise ValueError(f"interval_overlap_join: overlapping column names {sorted(clash)}")
    w = float(bucket_width)

    def _buckets(df, lo, hi):
        return df.filter(F.col(hi) > F.col(lo)).withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / F.lit(w)).cast("long"),
                    F.floor(F.col(hi) / F.lit(w)).cast("long"),
                )
            ),
        )

    from semantic_index_spark.operators.dedup import ensure_parallelism

    # the probe side enumerates every bucket-pair candidate against the
    # built side — per-PAIR compute; spread it to cluster width so a
    # small scan split cannot serialize the overlap verify (r13, guide
    # §2.6; no-op when the scan already splits ≥ cores)
    ab = _buckets(ensure_parallelism(a), lo_a, hi_a)
    bb = _buckets(b, lo_b, hi_b)
    start_bucket = F.floor(F.greatest(F.col(lo_a), F.col(lo_b)) / F.lit(w)).cast("long")
    return (
        ab.join(bb, "_bucket")
        .filter(
            (F.col(lo_a) < F.col(hi_b))
            & (F.col(lo_b) < F.col(hi_a))
            & (F.col("_bucket") == start_bucket)
        )
        .drop("_bucket")
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    by: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Winsorized per-group mean/stddev — robust aggregation by CLIPPING
    (not dropping) values outside the [lo_q, hi_q] per-group quantile
    band: a handful of corrupt extremes can't drag the mean, while the
    row count stays intact (unlike trimming, which changes n and biases
    small groups harder). The monitoring twin of :func:`mad_outliers` —
    that one FLAGS anomalies, this one reports stable aggregates in their
    presence.

    One grouped percentile pass → |groups|-row thresholds broadcast back
    → clip + mean/std partial-aggregate map-side. At 100 TB swap exact
    ``percentile`` for ``approx_percentile`` (same plan shape) or feed
    thresholds from the mergeable histogram sketch. Returns
    (by, n, lo_cut, hi_cut, winsorized_mean, winsorized_std)."""
    cuts = df.groupBy(by).agg(
        F.expr(f"percentile({value_col}, {lo_q!r})").alias("lo_cut"),
        F.expr(f"percentile({value_col}, {hi_q!r})").alias("hi_cut"),
    )
    clipped = df.join(F.broadcast(cuts), by).withColumn(
        "_w",
        F.least(F.greatest(F.col(value_col).cast("double"), F.col("lo_cut")), F.col("hi_cut")),
    )
    return clipped.groupBy(by).agg(
        F.count("_w").cast("bigint").alias("n"),
        F.round(F.first("lo_cut"), 6).alias("lo_cut"),
        F.round(F.first("hi_cut"), 6).alias("hi_cut"),
        F.round(F.avg("_w"), 6).alias("winsorized_mean"),
        F.round(F.stddev_samp("_w"), 6).alias("winsorized_std"),
    )


def cusum_alerts(
    events: DataFrame,
    ts_col: str = "ts",
    by: str = "event_type",
    k: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """One-sided CUSUM change-point detection per series (Page 1954) — the
    drift monitor that catches SUSTAINED small shifts MAD/seasonal z-tests
    miss (each day looks fine; the accumulated deviation doesn't):
    s_t = max(0, s_{t-1} + z_t − k) over daily volumes, alert when
    s_t > h. z normalizes against the series' own mean/std computed from
    EXACT integer sums (Σx, Σx²) so the recurrence is bit-reproducible
    across engines. [absent in reference — north-star extension]

    Scale shape: the corpus collapses to (series, day) counts in ONE
    partial-agg groupBy; the recurrence is inherently sequential
    (non-associative scan — no window can express the max-reset), so it
    runs per-series in applyInPandas, bounded by days-per-series, never
    corpus-sized. Fixed k/h → the oracle replays the recurrence as a
    recursive CTE. Returns (by, day, x, cusum, alert).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    daily = (
        events.select(F.col(by), F.to_date(ts_col).alias("_d"))
        .groupBy(by, "_d")
        .agg(F.count("*").cast("bigint").alias("_x"))
        .select(
            F.col(by),
            F.datediff(F.col("_d"), F.lit("1970-01-01")).cast("int").alias("day"),
            "_x",
        )
    )
    out_schema = StructType(
        [
            StructField(by, events.schema[by].dataType),
            StructField("day", IntegerType()),
            StructField("x", LongType()),
            StructField("cusum", DoubleType()),
            StructField("alert", BooleanType()),
        ]
    )

    def _scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        xs = pdf["_x"].astype("int64").to_numpy()
        n = len(xs)
        # EXACT integer sums -> both engines derive bitwise-equal mu/sigma
        s_sum = int(xs.sum())
        ss = int((xs.astype(object) ** 2).sum())
        import math

        mu = s_sum / n
        var = (ss - n * mu * mu) / (n - 1) if n > 1 else 0.0
        # math.sqrt, not var**0.5: pow(x, 0.5) can be an ulp off IEEE sqrt,
        # and the oracle's sqrt() is the IEEE one
        sigma = math.sqrt(var) if var > 0 else 0.0
        s = 0.0
        out_s = []
        for x in xs:
            z = 0.0 if sigma == 0.0 else (x - mu) / sigma
            s = max(0.0, s + z - k)
            out_s.append(s)
        return pd.DataFrame(
            {
                by: pdf[by],
                "day": pdf["day"].astype("int32"),
                "x": xs,
                "cusum": [round_half_up6(v) for v in out_s],
                "alert": [v > h for v in out_s],
            }
        )

    return daily.groupBy(by).applyInPandas(_scan, out_schema)


def round_half_up6(x: float) -> float:
    """HALF_UP at 6 decimals, matching Spark F.round / DuckDB round —
    Python's built-in round is half-to-even and diverges on boundaries."""
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def pit_join(
    facts: DataFrame,
    dim_history: DataFrame,
    key: str,
    fact_ts: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    attrs: list[str] | None = None,
    suffix: str = "_pit",
) -> DataFrame:
    """Point-in-time (temporal) join — the feature-store / Flink-temporal
    primitive: each fact row gets the dimension version IN FORCE at its
    own timestamp (``valid_from <= ts < valid_to``), never a later one —
    the train/serve-skew correctness property PIT joins exist for.
    [absent in reference — north-star extension]

    Plan: the interval-containment join collapses to :func:`asof_join` on
    ``valid_from`` (ONE keyed sort-shuffle, no range cross-product),
    because SCD2 validity intervals PARTITION each key's timeline — the
    last version starting at-or-before ts is exactly the one in force.
    Empty ``[t, t)`` versions (same-instant transition runs) are dropped
    first: they are never in force, and removing them makes
    ``valid_from`` unique per key so the as-of resolution is total-order
    deterministic. Facts before the key's first version get NULLs.
    Returns all fact columns + ``<attr><suffix>`` + ``valid_from<suffix>``.
    """
    attrs = attrs or [
        c
        for c in dim_history.columns
        if c not in (key, valid_from, valid_to, "is_current")
    ]
    live = dim_history.filter(
        F.col(valid_to).isNull() | (F.col(valid_from) < F.col(valid_to))
    ).select(key, valid_from, *attrs)
    return asof_join(
        facts,
        live,
        on=key,
        left_ts=fact_ts,
        right_ts=valid_from,
        value_cols=attrs,
        suffix=suffix,
    )


def event_transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition estimates over per-user event
    streams: for every consecutive (from → to) event-type pair, the count
    and the row-normalized transition probability — the behavioral model
    behind next-action prediction, funnel simulation, and bot detection
    (a scripted agent's transition rows are near-deterministic where
    humans are diffuse).

    Scale shape: ONE lag window over the user-key shuffle produces the
    consecutive pairs, then the corpus collapses to the type×type grid
    (bounded by the event vocabulary, not the corpus) in one partial-agg
    groupBy; row totals come from a window over that grid — metric-sized.
    Probabilities are exact integer ratios rounded at 6, so they
    hash-match across engines. Ties in event time break by ``id_col``.
    Returns (from_type, to_type, n, prob).
    [absent in reference — north-star extension]"""
    ut = F.unix_timestamp(ts_col)
    w = Window.partitionBy(user_col).orderBy(ut, id_col)
    pairs = (
        events.withColumn("_next", F.lead(type_col, 1).over(w))
        .filter(F.col("_next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_type"), F.col("_next").alias("to_type")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    row_tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(row_tot), 6
        ).alias("prob"),
    )


def first_touch_attribution(
    events: DataFrame,
    conversion: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    gap_s: int = 1800,
) -> DataFrame:
    """First-touch attribution: credit each ``conversion`` event to the
    FIRST event type of its session — the standard marketing/readout
    question "which entry channel leads to purchases". Sessions are
    gaps-and-islands (a new session when the inter-event gap is
    ≥ ``gap_s``, mirroring :func:`...relational.batch_sessionization`);
    ties in event time break by ``id_col`` so the first touch is total
    and engine-stable. Last-touch is the same query with the window
    reversed.

    Scale shape: ONE shuffle on the user key serves all three windows
    (lag for gaps, running sum for session ids, first_value within the
    session — same partition prefix, Spark reuses the sort), then the
    conversions collapse to a type-bounded groupBy. The corpus is never
    re-shuffled and nothing is driver-side.
    [absent in reference — north-star extension]"""
    ut = F.unix_timestamp(ts_col)
    w = Window.partitionBy(user_col).orderBy(ut, id_col)
    gap = ut - F.lag(ut, 1).over(w)
    marked = events.withColumn(
        "_is_start", F.when(gap.isNull() | (gap >= gap_s), 1).otherwise(0)
    ).withColumn(
        "_sess",
        F.sum("_is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    wsess = Window.partitionBy(user_col, "_sess").orderBy(ut, id_col)
    touched = marked.withColumn("_first_touch", F.first(type_col).over(wsess))
    return (
        touched.filter(F.col(type_col) == conversion)
        .groupBy(F.col("_first_touch").alias("first_touch"))
        .agg(
            F.count("*").cast("bigint").alias("n_conversions"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
    )


def throttle_dedup(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    cooldown_s: int = 1800,
) -> DataFrame:
    """Cooldown throttling (alert suppression): per key, keep an event only
    if at least ``cooldown_s`` seconds have passed since the last KEPT
    event — the greedy chain real alerting/notification pipelines run.
    This is NOT expressible with plain windows (whether an event is kept
    depends on which earlier events were kept, a per-key left fold), so it
    runs as a JVM-side higher-order `aggregate` over the key's sorted
    distinct event-seconds: one hash shuffle on the key, state bounded by
    the key's distinct seconds, zero Python in the data path. Same-second
    duplicates collapse before the fold (any cooldown ≫ 1 s suppresses
    them anyway).

    Returns (key, n_events, n_distinct_seconds, n_kept, first_kept_tse,
    last_kept_tse) — all exact integers."""
    base = events.select(
        F.col(key_col),
        F.floor(F.unix_timestamp(ts_col)).cast("bigint").alias("_tse"),
    )
    agg = base.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.array_sort(F.collect_set("_tse")).alias("_a"),
    )
    kept = F.expr(
        "aggregate(slice(_a, 2, size(_a) - 1), array(_a[0]), "
        f"(acc, x) -> IF(x >= element_at(acc, -1) + {int(cooldown_s)}, "
        "array_append(acc, x), acc))"
    )
    return agg.select(
        key_col,
        "n_events",
        F.size("_a").cast("bigint").alias("n_distinct_seconds"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.element_at(kept, 1).alias("first_kept_tse"),
        F.element_at(kept, -1).alias("last_kept_tse"),
    )


def holt_winters_level_trend(
    events: DataFrame,
    by: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Holt's double exponential smoothing (level + trend) over each
    group's DAILY value series — the classic cheap forecaster for volume
    monitoring. The recurrence

        level_t = α·x_t + (1−α)(level + trend);  trend_t = β·Δlevel + (1−β)·trend

    is a per-group left fold, run as a JVM `aggregate` HOF over the
    group's date-ordered daily totals (state = [level, trend], bounded by
    days, not events). Daily totals are EXACT integer cents (floor-cents
    summed as BIGINTs), so the double-precision smoothing consumes
    bit-identical inputs and applies bit-identical operations in the same
    order on every engine — the outputs are deterministic doubles, no
    rounding slack needed. Forecast h=7 days ahead = level + 7·trend.

    Returns (group, n_days, level_cents, trend_cents, forecast7_cents)
    with the smoothed doubles floored to integer cents."""
    daily = (
        events.groupBy(
            F.col(by), F.to_date(ts_col).alias("_d")
        )
        .agg(
            F.sum(F.floor(F.col(value_col) * 100).cast("bigint")).alias("_cents")
        )
    )
    series = daily.groupBy(by).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_d"), F.col("_cents")))
        ).alias("_s")
    )
    a, b = float(alpha), float(beta)
    fold = F.expr(
        "aggregate("
        "  slice(_s, 3, size(_s) - 2),"
        # init = state after consuming (x1, x2): with l1=x1, b1=x2-x1 the
        # t=2 update collapses algebraically to l2=x2, b2=x2-x1.
        # (bracket indexing is 0-BASED in Spark SQL while slice() is
        # 1-based: _s[1] is the second element, slice(_s, 3, …) starts
        # at the third)
        "  array(CAST(_s[1]._cents AS DOUBLE),"
        "        CAST(_s[1]._cents AS DOUBLE) - CAST(_s[0]._cents AS DOUBLE)),"
        "  (acc, x) -> array("
        f"    {a}D * CAST(x._cents AS DOUBLE) + {1 - a}D * (acc[0] + acc[1]),"
        f"    {b}D * (({a}D * CAST(x._cents AS DOUBLE) + {1 - a}D * (acc[0] + acc[1])) - acc[0])"
        f"      + {1 - b}D * acc[1]))"
    )
    return (
        series.filter(F.size("_s") >= 2)
        .select(
            by,
            F.size("_s").cast("bigint").alias("n_days"),
            fold.alias("_lt"),
        )
        .select(
            by,
            "n_days",
            F.floor(F.col("_lt")[0]).cast("bigint").alias("level_cents"),
            F.floor(F.col("_lt")[1]).cast("bigint").alias("trend_cents"),
            F.floor(F.col("_lt")[0] + F.lit(7.0) * F.col("_lt")[1])
            .cast("bigint")
            .alias("forecast7_cents"),
        )
    )


def position_attribution(
    events: DataFrame,
    conversion: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: within each
    session that converts, the touches BEFORE the first ``conversion``
    share its credit 40 % / 20 % / 40 % — first touch 40, last touch 40,
    the middles split 20 evenly (1 touch ⇒ 100 %, 2 ⇒ 50/50). The
    standard middle ground between first- and last-touch (both of which
    this module also provides). [absent in reference — north-star
    extension]

    Credits are INTEGER MICROS (400 000 / 500 000 / ``200000 DIV (m−2)``)
    so the per-channel totals are exact bigint sums — no float
    accumulation-order drift between engines; a journey's credits sum to
    ≤ 1 000 000 with the integer-division remainder dropped
    deterministically. Sessions are the same gaps-and-islands as
    :func:`first_touch_attribution`, ties in event time break by
    ``id_col``. ONE user-key shuffle serves every window (gap lag,
    session ids, first-conversion struct-min, touch positions); the
    result is a |channels|-row aggregate."""
    ut = F.unix_timestamp(ts_col)
    w = Window.partitionBy(user_col).orderBy(ut, id_col)
    gap = ut - F.lag(ut, 1).over(w)
    marked = (
        events.withColumn("_ut", ut)
        .withColumn("_is_start", F.when(gap.isNull() | (gap >= gap_s), 1).otherwise(0))
        .withColumn(
            "_sess",
            F.sum("_is_start").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    wsess = Window.partitionBy(user_col, "_sess")
    conv_at = F.min(
        F.when(
            F.col(type_col) == conversion, F.struct(F.col("_ut"), F.col(id_col))
        )
    ).over(wsess)
    touches = (
        marked.withColumn("_conv", conv_at)
        .filter(
            F.col("_conv").isNotNull()
            & (F.col(type_col) != conversion)
            & (
                F.struct(F.col("_ut"), F.col(id_col)) < F.col("_conv")
            )
        )
    )
    wpos = Window.partitionBy(user_col, "_sess").orderBy("_ut", id_col)
    pos = touches.withColumn("_p", F.row_number().over(wpos)).withColumn(
        "_m", F.count("*").over(wsess)
    )
    credit = (
        F.when(F.col("_m") == 1, F.lit(1000000))
        .when(F.col("_m") == 2, F.lit(500000))
        .when(F.col("_p") == 1, F.lit(400000))
        .when(F.col("_p") == F.col("_m"), F.lit(400000))
        .otherwise(F.expr("200000 DIV (_m - 2)"))
    )
    return (
        pos.withColumn("_credit", credit)
        .groupBy(F.col(type_col).alias("channel"))
        .agg(
            F.sum("_credit").cast("bigint").alias("credit_micros"),
            F.count("*").cast("bigint").alias("n_touches"),
        )
    )


def activity_streaks(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user consecutive-day activity streaks via the gaps-and-islands
    idiom: distinct active days, islands keyed by ``day − row_number``
    (consecutive days share the key), one groupBy per island, one per
    user. The engagement primitive behind "7-day streak" product metrics
    and habit-formation cohorts. [absent in reference — north-star
    extension]

    Scale shape: a (user, day) distinct shuffle, ONE window partitioned by
    the high-cardinality user key (never a global funnel), and two keyed
    partial-aggs. Output is |users| rows.

    Returns (user, n_active_days, n_streaks, longest_streak,
    last_active_day).
    """
    days = (
        df.select(F.col(user_col).alias("user"), F.to_date(ts_col).alias("d"))
        .filter(F.col("user").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("user").orderBy("d")
    isl = days.withColumn("grp", F.date_sub(F.col("d"), F.row_number().over(w)))
    streaks = isl.groupBy("user", "grp").agg(
        F.count("*").alias("len"), F.max("d").alias("end_d")
    )
    return streaks.groupBy("user").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count("*").cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.max("end_d").alias("last_active_day"),
    )


def autocorrelation(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    max_lag: int = 3,
) -> DataFrame:
    """Lag-k autocorrelation (ACF) of each group's daily activity counts,
    k = 1..``max_lag`` — the seasonality/burstiness readout behind "is
    this source's volume weekly-periodic or white noise?" monitoring.
    [absent in reference — north-star extension]

    Cross-engine exactness: the Pearson numerator and denominator are
    expanded so every aggregate is an exact BIGINT moment over integer
    daily counts —

      acf_k = [n²·Σx_t·x_{t−k} − n·S·(Σ_head + Σ_tail) + (n−k)·S²]
              / (n·(n·SS − S²))

    (S = Σx, SS = Σx²) — one IEEE division at the end, so both engines
    produce the identical double bit pattern; no float-sum ordering.

    Scale shape: the corpus collapses to (group, day) counts in ONE
    partial-agg shuffle; the per-group lag windows then run over that
    tiny aggregate (|groups|·|days| rows), partitioned by group. Output
    is |groups|·max_lag rows.

    Returns (group, lag, n_days, acf).
    """
    if max_lag < 1:
        raise ValueError("autocorrelation: max_lag must be >= 1")
    daily = (
        df.select(F.col(group_col).alias("grp"), F.to_date(ts_col).alias("d"))
        .groupBy("grp", "d")
        .agg(F.count("*").cast("bigint").alias("x"))
        .transform(pin, "autocorrelation: daily")
    )
    totals = daily.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss"),
    )
    w = Window.partitionBy("grp").orderBy("d")
    parts = []
    for k in range(1, max_lag + 1):
        lagged = daily.withColumn("prev", F.lag("x", k).over(w)).filter(
            F.col("prev").isNotNull()
        )
        parts.append(
            lagged.groupBy("grp").agg(
                F.lit(k).cast("int").alias("lag"),
                F.sum(F.col("x") * F.col("prev")).cast("bigint").alias("sxy"),
                F.sum("x").cast("bigint").alias("shead"),
                F.sum("prev").cast("bigint").alias("stail"),
            )
        )
    lags = parts[0]
    for p in parts[1:]:
        lags = lags.unionByName(p)
    num = (
        F.col("n") * F.col("n") * F.col("sxy")
        - F.col("n") * F.col("s") * (F.col("shead") + F.col("stail"))
        + (F.col("n") - F.col("lag")) * F.col("s") * F.col("s")
    )
    den = F.col("n") * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
    return (
        lags.join(totals, "grp")
        .filter(F.col("n") > F.col("lag"))
        .select(
            F.col("grp").alias(group_col),
            "lag",
            F.col("n").alias("n_days"),
            # + 0.0 canonicalizes IEEE negative zero on near-zero ACFs
            (
                F.when(den == 0, F.lit(0.0)).otherwise(
                    F.round(num.cast("double") / den.cast("double"), 6)
                )
                + F.lit(0.0)
            ).alias("acf"),
        )
    )


def resample_locf(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Gap-fill a sparse daily series to a dense per-key calendar with
    last-observation-carried-forward (LOCF) — the resampling primitive
    behind "every (series, day) must have a row" feature tables and
    metric dashboards. Days with no observations inherit the most recent
    prior day's aggregate and are flagged. [absent in reference —
    north-star extension]

    Exactness: the daily aggregate is an integer-cents SUM (exact
    BIGINT), so the carried value is bit-identical on any engine.

    Scale shape: the corpus collapses to (key, day) sums in ONE
    partial-agg shuffle; each key's [min, max] day spine explodes
    in-JVM from a 2-row-per-key aggregate (never a driver loop); the
    forward fill is one last(ignorenulls) window partitioned by the key.
    Output is Σ_key span_days rows — calendar-bounded, not corpus-bounded.

    Returns (key, day, value_cents, is_filled).
    """
    daily = (
        df.select(
            F.col(key_col).alias("key"),
            F.to_date(ts_col).alias("d"),
            F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint").alias("_c"),
        )
        .groupBy("key", "d")
        .agg(F.sum("_c").alias("v"))
    )
    spine = (
        daily.groupBy("key")
        .agg(F.min("d").alias("_lo"), F.max("d").alias("_hi"))
        .select(
            "key",
            F.explode(F.sequence("_lo", "_hi", F.expr("interval 1 day"))).alias("d"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["key", "d"], "left")
        .select(
            F.col("key").alias(key_col),
            F.col("d").alias("day"),
            F.last("v", ignorenulls=True).over(w).alias("value_cents"),
            F.col("v").isNull().alias("is_filled"),
        )
    )
