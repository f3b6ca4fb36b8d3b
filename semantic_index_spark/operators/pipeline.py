"""Training-corpus pipeline operators: incremental embedding against a
fingerprint-keyed cache, and one-pass data-quality expectation checks.

[absent in reference — north-star extension] The reference re-embeds every
item unconditionally (`SemanticDatabase.cs:162,404` — one API call per item,
even for unchanged text). At corpus scale, embedding is the single most
expensive stage of the pipeline, and most snapshots are ~99% unchanged from
the previous run, so the production shape is *incremental*: key previously
computed vectors by a content fingerprint and pay the embedder only for rows
whose text actually changed.

Scale shape:
  * ``embed_incremental`` — one hash equi-join on the 128-bit fingerprint
    (broadcast when the cache is small, sort-merge when it is another
    corpus-sized table; Catalyst/AQE picks) + an anti-join for the misses.
    The Arrow-batched embedder UDF — the only Python in the path — runs
    ONLY on the miss partitions. No collect, no driver round-trip.
  * ``validate_expectations`` — every rule folds into ONE aggregate pass
    over the table (count_if / count_distinct are map-side partial), so N
    expectations cost a single scan + one tiny shuffle regardless of N.
    The result is rows, not exceptions: gate a pipeline stage by joining
    on ``passed = false``.
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from semantic_index_spark.embedder import Embedder, embed_udf
from semantic_index_spark.functions import text as T
from semantic_index_spark.session import pin


def embed_incremental(
    docs: DataFrame,
    cache: DataFrame,
    embedder: Embedder,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Embed ``docs`` reusing a cache of previously computed vectors.

    ``cache`` must be unique per ``fingerprint`` with columns
    (fingerprint, embedding) — the artifact a previous run persisted.
    Rows whose whitespace-normalized text fingerprint
    (:func:`semantic_index_spark.functions.text.fingerprint`) hits the
    cache reuse the stored vector; only misses pay the embedder UDF.
    Returns (id, fingerprint, embedding, was_cached).
    """
    fp = docs.select(
        F.col(id_col), F.col(text_col), T.fingerprint(text_col).alias("fingerprint")
    )
    cached = cache.select("fingerprint", "embedding")
    hits = fp.join(cached, "fingerprint").select(
        id_col, "fingerprint", "embedding", F.lit(True).alias("was_cached")
    )
    misses = fp.join(cached.select("fingerprint"), "fingerprint", "left_anti")
    computed = misses.withColumn("embedding", embed_udf(embedder)(F.col(text_col))).select(
        id_col, "fingerprint", "embedding", F.lit(False).alias("was_cached")
    )
    return hits.unionByName(computed)


class Expectation(NamedTuple):
    """A named data-quality rule: ``violations`` is an AGGREGATE column
    counting the rows that break the rule (0 = rule holds)."""

    rule: str
    violations: Column


def expect_not_null(col: str) -> Expectation:
    return Expectation(f"not_null_{col}", F.count_if(F.col(col).isNull()))


def expect_unique(col: str) -> Expectation:
    """Violations = surplus non-null occurrences beyond one per value
    (NULLs are not compared to each other, mirroring SQL UNIQUE)."""
    return Expectation(
        f"unique_{col}", F.count(F.col(col)) - F.count_distinct(F.col(col))
    )


def expect_in_range(col: str, lo, hi) -> Expectation:
    """NULLs don't violate a range rule — pair with expect_not_null."""
    return Expectation(
        f"in_range_{col}",
        F.count_if(F.col(col).isNotNull() & ~F.col(col).between(F.lit(lo), F.lit(hi))),
    )


def expect_in_set(col: str, values: list) -> Expectation:
    return Expectation(
        f"in_set_{col}",
        F.count_if(F.col(col).isNotNull() & ~F.col(col).isin(values)),
    )


def expect_matches(col: str, pattern: str, label: str | None = None) -> Expectation:
    """Keep ``pattern`` within the RE2 ∩ Java-regex common subset if the
    result must be reproducible across engines."""
    return Expectation(
        label or f"matches_{col}",
        F.count_if(F.col(col).isNotNull() & ~F.col(col).rlike(pattern)),
    )


def validate_expectations(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Evaluate every expectation in ONE aggregate pass over ``df``.
    Returns (rule, violations, n_rows, passed) — one row per rule, in the
    order given."""
    if not expectations:
        raise ValueError("validate_expectations: need at least one expectation")
    aggs = [
        e.violations.cast("bigint").alias(f"_v{i}") for i, e in enumerate(expectations)
    ]
    wide = df.agg(*aggs, F.count("*").alias("_n"))
    rows = F.array(
        *[
            F.struct(
                F.lit(e.rule).alias("rule"),
                F.col(f"_v{i}").alias("violations"),
                F.col("_n").alias("n_rows"),
            )
            for i, e in enumerate(expectations)
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select(
        "r.rule",
        "r.violations",
        "r.n_rows",
        (F.col("r.violations") == 0).alias("passed"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Sequence packing for training: lay documents end-to-end in ``id_col``
    order into a contiguous token stream and cut it into fixed
    ``budget``-token training sequences (the "packed tokens" layout — no
    padding waste). Returns one row per document:
    (id, n_tokens, seq_id, offset_in_seq, spans_boundary) where ``seq_id``
    is the sequence its FIRST token lands in, ``offset_in_seq`` its start
    position there, and ``spans_boundary`` marks documents a loader must
    split across two sequences.

    The core is a global exclusive prefix-sum of token counts — the same
    single-reducer trap as global ranking, solved the same way
    (:func:`...skew.global_ranks`): ``repartitionByRange`` on the id (ONE
    corpus shuffle), per-partition running sums via a window keyed on the
    partition id (never unpartitioned), per-partition totals → exclusive
    offsets on |partitions| rows, broadcast back. The sorted/numbered rows
    are pinned (``session.pin``) so the totals branch and the join
    branch see the same range placement."""
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"pack_sequences: budget must be positive, got {budget}")
    base = docs.select(
        F.col(id_col), F.size(T.tokens(text_col)).alias("n_tokens")
    )
    part = (
        base.repartitionByRange(partitions, id_col)
        if partitions
        else base.repartitionByRange(id_col)
    )
    local = (
        part.sortWithinPartitions(id_col)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mid"), 33))
        .drop("_mid")
        .transform(pin, "pack_sequences: local", "eager")
    )
    totals = local.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (F.col("_off") + F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))).cast(
        "bigint"
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("_start", start)
        .select(
            id_col,
            "n_tokens",
            F.expr(f"_start div {budget}").alias("seq_id"),
            (F.col("_start") % budget).alias("offset_in_seq"),
            (
                (F.col("n_tokens") > 0)
                & (
                    F.expr(f"(_start + n_tokens - 1) div {budget}")
                    != F.expr(f"_start div {budget}")
                )
            ).alias("spans_boundary"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Diff two corpus snapshots: (key, change) with change ∈ 'added'
    (key only in new), 'removed' (only in old), 'changed' (same key,
    different content fingerprint); unchanged rows are omitted. The CDC
    *producer* complementing :func:`...timeseries.scd2_history` (which
    consumes a change log) — run between pipeline epochs to embed/index
    only what moved.

    ONE full-outer hash equi-join on the key; fingerprints are map-side
    md5 so the join carries 2×16 bytes per row, never the texts. Keys
    must be unique within each snapshot."""
    o = old.select(
        F.col(key_col).alias("_k"), T.fingerprint(text_col).alias("_fp_old")
    )
    n = new.select(
        F.col(key_col).alias("_k"), T.fingerprint(text_col).alias("_fp_new")
    )
    change = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
    )
    return (
        o.join(n, "_k", "full_outer")
        .select(F.col("_k").alias(key_col), change.alias("change"))
        .filter(F.col("change").isNotNull())
    )


def epoch_rollup(
    df: DataFrame, keys: list[str], epoch_col: Column | str, value_col: str
) -> DataFrame:
    """Per-(epoch, keys) MERGEABLE partial aggregates — count / sum / min /
    max of ``value_col`` — the materialized-rollup building block for
    incremental pipelines: each new epoch (day, ingest batch) appends its
    partial rows; totals come from :func:`merge_rollups` over the partials
    alone, so history is NEVER re-scanned. One map-side-combined groupBy
    over |epochs|·|keys| result rows."""
    ep = F.col(epoch_col) if isinstance(epoch_col, str) else epoch_col
    return df.groupBy(ep.alias("epoch"), *keys).agg(
        F.count("*").alias("n"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def merge_rollups(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Fold epoch partials into per-key totals using only the merge
    functions of each aggregate (count/sum merge by ``+``, min/max by
    min/max; avg derives from merged sum/count — never averaged averages).
    Input size is |epochs|·|keys| rows regardless of raw data volume, which
    is what makes the maintain-don't-recompute loop viable at 100 TB:
    ``merge_rollups(partials(old) ∪ partials(new))`` equals the direct
    aggregate over all raw rows (pytest + oracle assert exactly that)."""
    return (
        partials.groupBy(*keys)
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("n"))
    )


def quantile_threshold_filter(
    df: DataFrame,
    col: str,
    by: str,
    q: float,
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """FineWeb-style per-group quality filtering: keep rows whose ``col``
    is at or above the group's q-th quantile (e.g. drop the
    below-median-quality half of every source/domain independently, so one
    hoard of low-quality pages can't survive just because a global
    threshold was calibrated on cleaner domains).

    The per-group threshold comes from the MERGEABLE fixed-bin histogram
    (:func:`semantic_index_spark.functions.sketch.histogram_quantiles_by`),
    not a per-group sort: the only corpus-sized shuffle is the
    ≤ |groups|·bins histogram groupBy, and the resulting |groups|-row
    threshold table broadcasts back onto the corpus. At 100 TB this is the
    difference between one partial-agg pass and fully sorting every
    domain; threshold error is bounded by one bin width.
    """
    from semantic_index_spark.functions.sketch import histogram_quantiles_by

    # histogram_bins_by skips NULLs, so thresholds come from real values
    # only (a NULL-heavy source can't drag its threshold to the floor);
    # the >= comparison below is NULL-false, so NULL rows are dropped too.
    thr = histogram_quantiles_by(df, col, by, lo, hi, [q], bins).select(
        F.col(by), F.col("approx_value").alias("_thr")
    )
    return (
        df.join(F.broadcast(thr), by)
        .where(F.col(col) >= F.col("_thr"))
        .drop("_thr")
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One-pass per-column data profile — the Deequ/Glue-profiler shape:
    for each column, (dtype, n_rows, n_null, n_distinct, min, max) as one
    row, computed in a SINGLE aggregate over the data (never one job per
    column — at 100 TB, k separate profiling passes is the difference
    between one scan and k scans).

    ``count(distinct)`` per column is exact here because the cross-engine
    oracle must reproduce it; at real scale swap in
    ``approx_count_distinct`` (HLL++, mergeable, bounded memory), which
    also removes the multi-distinct ``Expand``. The aggregate plans as a
    partial map-side ``SortAggregate`` (string min/max buffers are
    var-width, outside the hash fast path) — the exchange still carries
    one row per partition. min/max surface as strings so heterogeneous
    column types share one result schema. The per-column fan-out happens
    AFTER aggregation, on the single wide result row (explode of a literal
    struct array — zero extra jobs)."""
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")
    aggs = [F.count("*").alias("_total")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_n_{c}"),
            F.countDistinct(F.col(c)).alias(f"_d_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    wide = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col("_total").cast("bigint").alias("n_rows"),
                (F.col("_total") - F.col(f"_n_{c}")).cast("bigint").alias("n_null"),
                F.col(f"_d_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(pairs).alias("r")).select("r.*")


def budget_select(
    docs: DataFrame,
    budget: int,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Token-budget corpus selection: greedily take the best documents —
    ordered (quality DESC, id ASC), a total order — until the cumulative
    token count would exceed ``budget``. The "build me the best 10B-token
    subset" step of training-data curation; strict prefix semantics, so a
    smaller later document never back-fills past a document that crossed
    the budget line (deterministic and engine-replayable).

    The global ordered prefix-sum uses the same no-single-reducer shape as
    :func:`pack_sequences` / ``skew.global_ranks``: ``repartitionByRange``
    on the sort key (ONE corpus shuffle), per-partition running sums via a
    partition-keyed window, per-partition totals → exclusive offsets on
    |partitions| rows, broadcast back. Returns the selected rows as
    (id, quality, n_tokens, cum_tokens), ``cum_tokens`` inclusive."""
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"budget_select: budget must be positive, got {budget}")
    base = docs.select(
        F.col(id_col),
        F.col(quality_col).alias("quality"),
        F.size(T.tokens(text_col)).alias("n_tokens"),
    )
    order = [F.col("quality").desc(), F.col(id_col).asc()]
    part = (
        base.repartitionByRange(partitions, *order)
        if partitions
        else base.repartitionByRange(*order)
    )
    local = (
        part.sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mid"), 33))
        .drop("_mid")
        .transform(pin, "budget_select: local", "eager")
    )
    totals = local.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.col("_off") + F.sum("n_tokens").over(w_local)).cast("bigint")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("cum_tokens", cum)
        .where(F.col("cum_tokens") <= budget)
        .select(id_col, "quality", "n_tokens", "cum_tokens")
    )


def observed_profile(df: DataFrame, value_col: str) -> DataFrame:
    """In-flight data-quality metrics via Spark's Observation API: attach
    row count, null count, and a value sum to a REAL action, collected as
    the job runs — ZERO extra scans, unlike :func:`profile_table` (which
    is its own aggregation job). The production shape: every ingest batch
    observes its own quality counters for free while doing its actual
    work, and an alerting hook reads them off the listener.
    [absent in reference — north-star extension]

    Deterministic contract: the sum is rounded(2) AFTER collection, so
    partition-order float noise stays below the rounding grain for
    sane magnitudes. Returns a 1-row DataFrame
    (n_rows, n_null, sum_value) built from the observed metrics."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).isNull().cast("long")).alias("n_null"),
        F.sum(F.col(value_col).cast("double")).alias("sum_value"),
    )
    observed.count()  # the "real" action the metrics piggyback on
    m = obs.get
    import math

    sv = m["sum_value"]
    # HALF_UP like F.round/DuckDB round, not Python's banker's rounding
    sv = None if sv is None else math.copysign(
        math.floor(abs(float(sv)) * 100.0 + 0.5) / 100.0, float(sv)
    )
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["n_null"]), sv)],
        "n_rows bigint, n_null bigint, sum_value double",
    )


def epoch_shard_order(
    df: DataFrame,
    id_col: str = "doc_id",
    epochs: int = 2,
    n_shards: int = 8,
    seed: str = "order:",
) -> DataFrame:
    """Deterministic multi-epoch training-data order: for each epoch,
    reshuffle the corpus into ``n_shards`` shard files and fix each row's
    position within its shard — the (epoch, shard, pos) layout a data
    loader streams without ever holding a global permutation. Epoch-salted
    hashing gives every epoch an independent-looking order that is still
    bit-reproducible across runs, engines, and corpus re-reads (the
    data-order-reproducibility property training debugging depends on);
    restarts resume mid-epoch from (shard, pos) alone.

    Scale shape: ONE corpus scan fans out ``epochs``× in-JVM (explode of a
    literal range), then a single row_number window keyed by
    (epoch, shard). At 100 TB, size ``n_shards`` in the thousands: the
    window is keyed (never SinglePartition) and each shard sorts
    ~N/n_shards rows — the same per-partition-sort cost a writer's
    ``sortWithinPartitions`` would pay. Hash collisions break ties by id,
    so the order is total and stable. Returns (id, epoch, shard, pos).
    [absent in reference — north-star extension]"""
    from pyspark.sql import Window

    if epochs <= 0 or n_shards <= 0:
        raise ValueError(
            f"epoch_shard_order: epochs and n_shards must be positive, "
            f"got {epochs}, {n_shards}"
        )
    h = T.md5_bigint(
        F.concat(
            F.col("epoch").cast("string"), F.lit(":"), F.col(id_col).cast("string")
        ),
        salt=seed,
    )
    rows = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(epochs - 1))).alias("epoch"),
    ).select(id_col, "epoch", h.alias("_h"))
    w = Window.partitionBy("epoch", F.pmod("_h", F.lit(n_shards))).orderBy(
        "_h", id_col
    )
    return rows.select(
        id_col,
        "epoch",
        F.pmod("_h", F.lit(n_shards)).alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


def table_checksum(
    df: DataFrame,
    cols: list[str],
    by: str | None = None,
) -> DataFrame:
    """Order-insensitive content fingerprint of a table (optionally per
    ``by`` slice): XOR-fold of a 60-bit md5 over each row's canonicalized
    column values, plus the row count. The cheap end-to-end integrity
    check after a copy / migration / engine swap — two corpora with equal
    (n_rows, checksum) per slice are byte-identical on ``cols`` with
    2^-60 collision odds, and the whole check is ONE partial-agg scan with
    O(1) state per slice (XOR is commutative/associative → map-side
    combine; no overflow, unlike a SUM fold under ANSI arithmetic).

    Caveat (documented, inherent to XOR): a row appearing an EVEN number
    of times cancels out; the row count catches pure duplication, and
    pairing this with :func:`exact_dedup` upstream removes the caveat
    entirely. The row encoding is INJECTIVE — each value is
    length-prefixed (``v<len>:<value>``, NULL → ``n:``) — so no value
    content (separators, sentinel look-alikes) can make two different
    rows encode identically, and (a, NULL) never collides with (a,) or
    ("",).
    [absent in reference — north-star extension]"""
    canon = F.concat_ws(
        "\x1f",
        *[
            F.when(
                F.col(c).isNull(), F.lit("n:")
            ).otherwise(
                F.concat(
                    F.lit("v"),
                    F.length(F.col(c).cast("string")),
                    F.lit(":"),
                    F.col(c).cast("string"),
                )
            )
            for c in cols
        ],
    )
    h = T.md5_bigint(canon, salt="cksum:")
    keys = [by] if by else []
    return (
        df.groupBy(*keys)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.bit_xor(h).alias("checksum"),
        )
    )


def referential_integrity(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key integrity audit across a star/snowflake schema: for each
    (name, fact, fk_col, dim, key_col) relation, count fact rows whose key
    has no match in the dimension — orphans break every downstream join
    silently (inner joins drop them, outer joins null them), so the audit
    belongs at ingest next to :func:`validate_expectations`.

    Each relation costs ONE scan of the fact: a left join onto the
    dimension's distinct keys (Catalyst broadcasts genuinely small
    dimensions and sort-merges corpus-sized ones — AQE decides from
    runtime stats, the right call at 100 TB where "the dimension" may be
    another fact) feeds a single conditional aggregation producing all
    three counts. NULL keys are counted separately (a NULL fk is a
    modeling choice, not an orphan — an anti-join would lump them in;
    here a NULL key simply never matches, and the orphan predicate
    excludes it explicitly). Returns one row per relation:
    (relation, n_rows, n_null_keys, n_orphans).
    [absent in reference — north-star extension]"""
    outs = []
    for name, fact, fk, dim, key in relations:
        dimk = (
            dim.select(F.col(key).alias("_k"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        joined = fact.select(F.col(fk).alias("_k")).join(dimk, "_k", "left")
        outs.append(
            joined.agg(
                F.lit(name).alias("relation"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("_k").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_null_keys"),
                F.sum(
                    F.when(
                        F.col("_k").isNotNull() & F.col("_hit").isNull(), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def quantile_normalize(
    df: DataFrame,
    by: str,
    value_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quantile normalization: map each row's value to its
    within-group percentile so scores are comparable ACROSS groups — the
    calibration step before mixing heterogeneous sources with one global
    threshold (a raw cutoff keeps whatever per-source bias the scorer
    has; the percentile is bias-free by construction).

    ``pct_micro`` is the cume_dist numerator in exact integers:
    r = peers-inclusive running count over the group's value order,
    n = group size, pct_micro = (r·1,000,000) div n — the float-free form
    of cume_dist()·1e6, so the hash can never ride a division boundary.
    One hash shuffle on the group key; the RANGE window is per-group.
    [absent in reference — north-star extension]"""
    from pyspark.sql import Window

    w_rank = (
        Window.partitionBy(by)
        .orderBy(value_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(by)
    r = F.count("*").over(w_rank)
    n = F.count("*").over(w_all)
    # r·1e6 and n are exact integers ≪ 2^53: the double division is exact
    # whenever the true quotient is integral, so floor == integer div
    return df.select(
        id_col,
        by,
        value_col,
        F.floor(r * F.lit(1000000) / n).cast("bigint").alias("pct_micro"),
    )
