"""Statistical analytics: survival curves, experiment readouts,
concentration indices.

[absent in reference — north-star extension] The product/ops statistics a
pipeline team runs on its own event exhaust: retention expressed as
survival, experiment gating, and corpus-concentration governance. All
single-pass / window shapes with exact cross-engine oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from semantic_index_spark.session import collect_bounded, pin, pinned
from pyspark.sql import DataFrame, Window

from semantic_index_spark.functions.text import md5_bigint


def survival_curve(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_days: float = 7.0,
) -> DataFrame:
    """Kaplan–Meier survival estimate over user lifetimes: lifetime = last
    activity − first activity (whole days); a user whose last activity
    falls within ``censor_days`` of the dataset's end is CENSORED (still
    alive — we just stopped watching), which is the whole point of KM over
    a naive histogram: censored users count in the at-risk denominator up
    to their observation time but never as deaths.

    Ŝ(t) = Π_{t_i ≤ t} (1 − d_i / n_i) over distinct death times t_i —
    computed as exp(Σ ln(1 − d/n)) so the running product is a WINDOW SUM
    (one |lifetimes|-row ordered window over per-day aggregates, never an
    iterative loop). Two keyed aggregations (per-user lifetime, per-day
    deaths/censors) + the tiny curve window. Returns
    (t_days, n_at_risk, n_deaths, survival).
    """
    per_user = events.filter(F.col(user_col).isNotNull()).groupBy(user_col).agg(
        F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last")
    )
    horizon = per_user.agg(F.max("_last").alias("_end"))
    lived = (
        per_user.crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(F.col("_last"), F.col("_first")).cast("int").alias("t_days"),
            (
                F.col("_last")
                < F.col("_end") - F.expr(f"INTERVAL {int(censor_days)} DAYS")
            ).alias("died"),
        )
    )
    day = lived.groupBy("t_days").agg(
        F.sum(F.col("died").cast("int")).cast("bigint").alias("n_deaths"),
        F.count("*").cast("bigint").alias("n_ending"),
    )
    w_after = Window.orderBy("t_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_upto = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # at risk at t = everyone whose observation ends at or after t
    curve = day.withColumn("n_at_risk", F.sum("n_ending").over(w_after))
    # terminal event: when every at-risk user dies at t (d == n, only ever
    # possible on the last row), 1 − d/n = 0 and log(0) is NULL in Spark —
    # the window SUM would silently skip it and survival would hold its
    # prior value instead of dropping to 0. Emit −inf explicitly so
    # exp(sum) yields exactly 0.0 (the oracle mirrors the CASE).
    log_term = F.when(
        F.col("n_deaths") < F.col("n_at_risk"),
        F.log(
            F.lit(1.0)
            - F.col("n_deaths").cast("double") / F.col("n_at_risk").cast("double")
        ),
    ).otherwise(F.lit(float("-inf")))
    surv = F.exp(F.sum(log_term).over(w_upto))
    return curve.select(
        "t_days",
        "n_at_risk",
        "n_deaths",
        F.round(surv, 6).alias("survival"),
    )


def ab_test_zscore(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    convert_type: str = "purchase",
    salt: str = "ab:",
) -> DataFrame:
    """Experiment readout: users hash-split 50/50 into A/B (deterministic
    md5 — the same assignment on every run and engine, the property an
    experiment system must have), per-arm conversion = fraction of users
    with a ``convert_type`` event, compared with the two-proportion
    z-statistic under the pooled variance. On hash-split arms of the SAME
    population z ≈ 0 by construction — the A/A-test shape used to
    validate an experiment pipeline's plumbing and false-positive rate.

    One per-user aggregation + a 2-row arm rollup; the z arithmetic runs
    on the 2-row result. Returns one row:
    (n_a, n_b, conv_a, conv_b, lift, zscore)."""
    per_user = (
        events.filter(F.col(user_col).isNotNull())
        .groupBy(user_col)
        .agg(
            F.max((F.col(type_col) == convert_type).cast("int")).alias("_conv")
        )
        .withColumn(
            "_arm",
            F.when(
                F.pmod(md5_bigint(F.col(user_col).cast("string"), salt=salt), F.lit(2))
                == 0,
                "A",
            ).otherwise("B"),
        )
    )
    arms = per_user.groupBy("_arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_conv").cast("bigint").alias("conv"),
    )
    a = arms.filter(F.col("_arm") == "A").select(
        F.col("n").alias("n_a"), F.col("conv").alias("c_a")
    )
    b = arms.filter(F.col("_arm") == "B").select(
        F.col("n").alias("n_b"), F.col("conv").alias("c_b")
    )
    j = a.crossJoin(b)
    pa = F.col("c_a") / F.col("n_a")
    pb = F.col("c_b") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return j.select(
        "n_a",
        "n_b",
        F.round(pa, 6).alias("conv_a"),
        F.round(pb, 6).alias("conv_b"),
        F.round(pb - pa, 6).alias("lift"),
        F.round((pb - pa) / F.nullif(se, F.lit(0.0)), 6).alias("zscore"),
    )


def concentration_index(
    df: DataFrame, group_col: str, weight_col=None
) -> DataFrame:
    """Corpus-concentration governance metrics over a categorical column:
    HHI (Herfindahl–Hirschman, Σ share²) and the Gini coefficient of the
    group-size distribution — "is this corpus dominated by a handful of
    sources". Gini via the sorted-rank identity
    G = (2·Σ i·x_i) / (n·Σ x_i) − (n+1)/n over ascending sizes — one
    |groups|-row window, so the corpus-sized input only ever pays one
    groupBy. Returns one row (n_groups, hhi, gini)."""
    w = F.count("*") if weight_col is None else F.sum(weight_col)
    sizes = df.groupBy(group_col).agg(w.cast("double").alias("x"))
    ranked = sizes.withColumn(
        "i", F.row_number().over(Window.orderBy("x", group_col))
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.round(
            F.sum(F.col("x") * F.col("x")) / (F.sum("x") * F.sum("x")), 6
        ).alias("hhi"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.count("*") * F.sum("x"))
            - (F.count("*") + 1.0) / F.count("*"),
            6,
        ).alias("gini"),
    )


def logistic_regression_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    steps: int = 2,
    lr: float = 1.0,
) -> DataFrame:
    """Distributed logistic regression by full-batch gradient descent —
    the training-step primitive behind every data-parallel trainer: each
    step is ONE aggregation computing the d+1 gradient sums
    g_j = Σ x_ij·(σ(w·x_i) − y_i) (mergeable partials, map-side
    combine — the exact shape parameter servers AllReduce), followed by a
    driver-side weight update w ← w − lr·g/n. Only d+1 floats ever leave
    the executors per step; the data never moves.

    A FIXED step count and zero-initialized weights keep the run
    deterministic and cross-engine checkable — the oracle unrolls the
    same recurrence as CTEs. Features should be pre-scaled to O(1) (GD
    without normalization diverges; that's a property of the algorithm,
    not the implementation). Returns one row per coefficient:
    (feature, weight) with an ``__intercept__`` row, rounded(6).
    """
    feats = [F.lit(1.0).alias("_x0")] + [
        F.col(c).cast("double").alias(f"_x{j+1}") for j, c in enumerate(feature_cols)
    ]
    d = len(feature_cols) + 1
    w = [0.0] * d
    with pinned():
        base = df.select(*feats, F.col(label_col).cast("double").alias("_y"))
        base = pin(base, "logistic_regression_gd: rows")
        n = base.count()
        # empty input: the mean gradient is undefined — stay total (like
        # the other driver-loop operators) and return the zero init
        # instead of dividing by n.
        for _ in range(steps if n else 0):
            z = sum(F.col(f"_x{j}") * F.lit(w[j]) for j in range(d))
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            grads = collect_bounded(
                base.select(
                    *[
                        F.sum(F.col(f"_x{j}") * (p - F.col("_y"))).alias(f"g{j}")
                        for j in range(d)
                    ]
                ),
                1,
                "logistic_regression_gd gradient (d+1 sums, one row)",
            )[0]
            w = [w[j] - lr * grads[f"g{j}"] / n for j in range(d)]
    names = ["__intercept__"] + list(feature_cols)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(names[j], round(w[j], 6)) for j in range(d)], "feature string, weight double"
    )


# Inverse CDF thresholds for Poisson(1), cumulative: P(X<=k). Capped at 5
# (P(X>5) ≈ 6e-4 — the truncation bias is far below bootstrap noise).
_POIS1_CDF = [
    0.36787944117144233,  # P(0)
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
]


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_replicas: int = 32,
    alpha: float = 0.05,
) -> DataFrame:
    """Bootstrap confidence interval for the MEAN of ``value_col`` via the
    Poisson bootstrap (Chamandy et al., Google 2012) — the distributed
    form: instead of materializing B resamples, every row draws an
    independent Pois(1) multiplicity PER replica, so all B replica sums
    accumulate in ONE pass with map-side partial aggregation (B·(sum,
    count) cells — the replica axis explodes in-JVM, never through a
    shuffle of resampled data). The percentile band over the B replica
    means is the CI.

    Multiplicities come from the Poisson inverse CDF applied to an
    md5-derived uniform per (row, replica) — reproducible across runs and
    engines (the oracle replays the exact CASE chain; a production run
    wanting fresh randomness swaps the salt per execution). Returns one
    row: (mean, ci_lo, ci_hi, n_replicas).
    """
    reps = F.array(*[F.lit(b) for b in range(n_replicas)])
    u = (
        md5_bigint(
            F.concat(F.col(key_col).cast("string"), F.lit(":"), F.col("_b").cast("string")),
            salt="bs:",
        )
        + 1
    ) / F.lit(float(1 << 60))
    mult = F.when(u <= _POIS1_CDF[0], 0)
    for k in range(1, len(_POIS1_CDF)):
        mult = mult.when(u <= _POIS1_CDF[k], k)
    mult = mult.otherwise(len(_POIS1_CDF))
    from semantic_index_spark.operators.dedup import ensure_parallelism

    # rows × B hash draws is compute per ROW, not per byte: spread the
    # narrow (key, value) projection to cluster width BEFORE the replica
    # explode so one small scan split cannot serialize B·N md5 evals
    # (r13, guide §2.6; no-op when the scan already splits ≥ cores)
    per_rep = (
        ensure_parallelism(
            df.select(F.col(key_col), F.col(value_col).cast("double").alias("_v"))
        )
        .withColumn("_b", F.explode(reps))
        .withColumn("_m", mult)
        .groupBy("_b")
        .agg(
            (F.sum(F.col("_m") * F.col("_v")) / F.sum("_m")).alias("_mean")
        )
    )
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    base_mean = df.agg(F.avg(F.col(value_col).cast("double")).alias("_mu"))
    return (
        per_rep.agg(
            F.expr(f"percentile(_mean, {lo!r})").alias("_lo"),
            F.expr(f"percentile(_mean, {hi!r})").alias("_hi"),
            F.count("*").cast("bigint").alias("n_replicas"),
        )
        .crossJoin(F.broadcast(base_mean))
        .select(
            F.round("_mu", 6).alias("mean"),
            F.round("_lo", 6).alias("ci_lo"),
            F.round("_hi", 6).alias("ci_hi"),
            "n_replicas",
        )
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson χ² test of independence between two categorical columns —
    "does event mix differ by cohort/source": contingency counts from ONE
    groupBy, marginals via window sums over the contingency table (never
    a second corpus scan), χ² = Σ (observed − expected)²/expected with
    dof = (r−1)(c−1). Returns one row (n, dof, chi2) — compare against
    the χ² critical value for the gate (the statistic, not a p-value, so
    the result is exact and engine-portable)."""
    counts = df.groupBy(col_a, col_b).agg(F.count("*").cast("double").alias("o"))
    grid = (
        counts.select(col_a).distinct()
        .crossJoin(counts.select(col_b).distinct())
    )
    cont = grid.join(counts, [col_a, col_b], "left").withColumn(
        "o", F.coalesce(F.col("o"), F.lit(0.0))
    )
    wa = Window.partitionBy(col_a)
    wb = Window.partitionBy(col_b)
    wall = Window.partitionBy()
    t = (
        cont.withColumn("ra", F.sum("o").over(wa))
        .withColumn("cb", F.sum("o").over(wb))
        .withColumn("n", F.sum("o").over(wall))
        .withColumn("e", F.col("ra") * F.col("cb") / F.col("n"))
    )
    return t.agg(
        F.max("n").cast("bigint").alias("n"),
        (
            (F.count_distinct(col_a) - 1) * (F.count_distinct(col_b) - 1)
        ).cast("bigint").alias("dof"),
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")), 6
        ).alias("chi2"),
    )


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-digit audit — the classic fabricated-numbers /
    broken-ETL screen: observed share of leading digits 1-9 of |value|
    vs the Benford expectation log10(1 + 1/d), with the per-digit χ²
    contribution. Organic heavy-tailed quantities follow the law;
    uniform-ish synthetic or truncated data deviates LOUDLY — the point
    of the audit is the magnitude of that deviation, either way. One
    projection + one ≤9-key aggregate. Returns
    (digit, n, observed_share, benford_share, chi2_term)."""
    import math

    d1 = F.substring(
        F.regexp_replace(F.abs(F.col(value_col)).cast("string"), r"[^1-9]*([1-9]).*", "$1"),
        1,
        1,
    )
    digits = (
        df.filter(F.col(value_col).isNotNull() & (F.abs(F.col(value_col)) > 0))
        .select(d1.alias("digit"))
        .filter(F.col("digit").rlike("^[1-9]$"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = Window.partitionBy()
    bshare = F.element_at(
        F.array(*[F.lit(math.log10(1 + 1.0 / d)) for d in range(1, 10)]),
        F.col("digit").cast("int"),
    )
    return digits.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("observed_share"),
        F.round(bshare, 6).alias("benford_share"),
        F.round(
            (F.col("n") / F.sum("n").over(tot) - bshare)
            * (F.col("n") / F.sum("n").over(tot) - bshare)
            / bshare
            * F.sum("n").over(tot),
            6,
        ).alias("chi2_term"),
    )


def mann_whitney_z(
    df: DataFrame, value_col: str, arm_col: str = "_arm"
) -> DataFrame:
    """Mann–Whitney U rank-sum readout (the CONTINUOUS-metric A/B test;
    :func:`ab_test_zscore` is its binary-conversion sibling): normal
    approximation with the standard tie correction,
    z = (U − n_a·n_b/2) / sqrt(n_a·n_b/12 · ((N+1) − ΣT/(N(N−1)))).

    Scale shape: ranks never materialize per row — ONE groupBy collapses
    the corpus to its distinct metric values (discretize a truly
    continuous metric first, e.g. round to cents: the rank table is then
    bounded by the VALUE DOMAIN, not the corpus), average ranks come from
    a cumulative window over that bounded table, and every rank quantity
    is a half-integer — exactly representable, so the statistic is
    bit-identical across engines and summation orders. Returns one row
    (n_a, n_b, u_stat, zscore); z is NULL when the variance degenerates
    (all values tied)."""
    per = df.groupBy(value_col).agg(
        F.count("*").cast("long").alias("_cnt"),
        F.sum((F.col(arm_col) == "A").cast("long")).alias("_a"),
    )
    w = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.withColumn(
        "_before", F.coalesce(F.sum("_cnt").over(w), F.lit(0)).cast("long")
    ).withColumn(
        "_avg_rank",
        F.col("_before").cast("double") + (F.col("_cnt") + 1) / F.lit(2.0),
    )
    agg = ranked.agg(
        F.sum("_a").cast("long").alias("n_a"),
        F.sum(F.col("_cnt") - F.col("_a")).cast("long").alias("n_b"),
        F.sum(F.col("_a") * F.col("_avg_rank")).alias("_r_a"),
        F.sum(
            F.col("_cnt") * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")
        ).cast("long").alias("_tsum"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = n_a + n_b
    u = F.col("_r_a") - n_a * (n_a + 1) / 2.0
    var = n_a * n_b / 12.0 * ((n + 1) - F.col("_tsum") / (n * (n - 1)))
    return agg.select(
        "n_a",
        "n_b",
        F.round(u, 6).alias("u_stat"),
        F.round(
            (u - n_a * n_b / 2.0) / F.sqrt(F.nullif(var, F.lit(0.0))), 6
        ).alias("zscore"),
    )


def ols2_closed_form(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    round_decimals: int = 6,
) -> DataFrame:
    """Two-feature multivariate OLS by the normal equations, solved with
    Cramer's rule ENTIRELY in JVM expressions — the closed-form
    counterpart of :func:`logistic_regression_gd`'s iterative path.
    [absent in reference — north-star extension]

    ONE partial-agg pass computes the nine sufficient statistics
    (n, Σx₁, Σx₂, Σx₁², Σx₁x₂, Σx₂², Σy, Σx₁y, Σx₂y); the 3×3 solve is a
    fixed expression tree over that single row. Inputs must be
    INTEGER-VALUED columns (fixed-point upstream): the moment sums are
    then exact bigints below 2⁵³, so casting to double and applying the
    IDENTICAL Cramer expression order on any engine yields bit-identical
    coefficients — the cross-engine-exactness trick used throughout this
    repo. Nothing ever reaches the driver; the result is a 3-row
    (term, coef) DataFrame a pipeline can join or broadcast. At 100 TB
    this is one map-side-combined aggregate — the cheapest possible
    regression; for d features generalize the sums to d(d+3)/2 entries
    and solve the tiny system driver-side (see ``covariance_entries``)."""
    y, x1, x2 = F.col(y_col), F.col(x1_col), F.col(x2_col)
    g = df.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * y).cast("double").alias("s1y"),
        F.sum(x2 * y).cast("double").alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    solved = g.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(det0 / det, round_decimals).alias("b_intercept"),
        F.round(det1 / det, round_decimals).alias("b_x1"),
        F.round(det2 / det, round_decimals).alias("b_x2"),
    )
    return solved.selectExpr(
        "n_rows",
        f"stack(3, 'intercept', b_intercept, '{x1_col}', b_x1, '{x2_col}', b_x2) AS (term, coef)",
    ).select("term", "coef", "n_rows")


def stratified_treatment_effect(
    df: DataFrame,
    stratum_col: str,
    treated_col: str,
    outcome_col: str,
) -> DataFrame:
    """Post-stratified average-treatment-effect readout — the
    observational-causal counterpart of :func:`ab_test_zscore`'s
    randomized readout: within each stratum of a confounder, difference
    of treated vs control outcome means; the stratum-weighted sum of
    ``effect`` is the classic IPW/post-stratification ATE (identical
    estimators when the propensity is fit per stratum). [absent in
    reference — north-star extension]

    Cross-engine exactness: per-stratum sums are exact BIGINTs (pass an
    integer-valued outcome, e.g. cents), each mean is ONE IEEE division,
    and ``effect`` is the difference of two such divisions — bit-stable
    on any engine; no float accumulation.

    Scale shape: ONE map-side-combined groupBy on the stratum key; output
    is |strata| rows. Strata with an empty arm yield NULL effect rather
    than a division blow-up.

    Returns (stratum, n, n_treated, mean_treated, mean_control, effect).
    """
    t = F.col(treated_col).cast("boolean")
    y = F.col(outcome_col).cast("bigint")
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(t, 1).otherwise(0)).cast("bigint").alias("n_treated"),
        F.coalesce(F.sum(F.when(t, y)), F.lit(0)).cast("bigint").alias("_yt"),
        F.coalesce(F.sum(F.when(~t, y)), F.lit(0)).cast("bigint").alias("_yc"),
    )
    n_c = F.col("n") - F.col("n_treated")
    mean_t = F.when(
        F.col("n_treated") > 0,
        F.col("_yt").cast("double") / F.col("n_treated").cast("double"),
    )
    mean_c = F.when(n_c > 0, F.col("_yc").cast("double") / n_c.cast("double"))
    return per.select(
        "stratum",
        "n",
        "n_treated",
        F.round(mean_t, 6).alias("mean_treated"),
        F.round(mean_c, 6).alias("mean_control"),
        # + 0.0 canonicalizes IEEE negative zero (engines disagree on
        # rendering round(-1e-10, 6))
        (F.round(mean_t - mean_c, 6) + F.lit(0.0)).alias("effect"),
    )


def best_split(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    bucket_width: float = 1.0,
) -> DataFrame:
    """Decision-stump split finder: information gain of every candidate
    threshold ``feature ≤ bucket·width`` against a binary label — the
    inner loop of tree/GBDT training and the quickest "is this feature
    predictive?" audit for quality-classifier features. [absent in
    reference — north-star extension]

    Histogram-based, the way distributed GBDT implementations do it: the
    corpus collapses to per-bucket (count, positives) in ONE partial-agg
    shuffle; cumulative sums over the |buckets| rows give every
    threshold's left/right contingency in a single window pass. The
    window is over buckets only — bounded by design (a bucketed feature,
    never the corpus), the standard histogram trade-off.

    Entropies are computed from exact integer counts with one expression
    tree (p·ln p terms), rounded to 1e-6 — deterministic across engines
    up to correctly-rounded ln.

    Returns (threshold, n_left, pos_left, gain) for every split that
    leaves both sides non-empty, ordered by nothing (caller sorts);
    ``threshold`` is the inclusive left-side upper bucket edge.
    """
    b = df.select(
        F.floor(F.col(feature_col) / F.lit(bucket_width)).cast("bigint").alias("bkt"),
        F.col(label_col).cast("bigint").alias("y"),
    )
    hist = b.groupBy("bkt").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("p"),
    )
    w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select(
        "bkt",
        F.sum("c").over(w).alias("cl"),
        F.sum("p").over(w).alias("pl"),
        F.sum("c").over(Window.partitionBy()).alias("nn"),
        F.sum("p").over(Window.partitionBy()).alias("pp"),
    )

    def _ent(pos, tot):
        # binary entropy in nats from integer counts; 0·ln0 := 0
        q = pos.cast("double") / tot.cast("double")
        term = lambda r: F.when((r > 0) & (r < 1), -r * F.log(r)).otherwise(F.lit(0.0))
        return term(q) + term(1 - q)

    nr = F.col("nn") - F.col("cl")
    pr = F.col("pp") - F.col("pl")
    gain = (
        _ent(F.col("pp"), F.col("nn"))
        - (F.col("cl").cast("double") / F.col("nn").cast("double"))
        * _ent(F.col("pl"), F.col("cl"))
        - (nr.cast("double") / F.col("nn").cast("double")) * _ent(pr, nr)
    )
    return cum.filter(nr > 0).select(
        (F.col("bkt") * F.lit(bucket_width)).alias("threshold"),
        F.col("cl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        # + 0.0 canonicalizes IEEE negative zero on cancellation noise
        (F.round(gain, 6) + F.lit(0.0)).alias("gain"),
    )
