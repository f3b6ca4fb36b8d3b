"""Relational operator surface — query builders over the TPC-H-ish tables.

[absent in reference — north-star extension] The reference's analytical
surface is scan / equality filter / projection / count / top-k only
(SURVEY.md §2.A); everything here is the §2.B extension matrix expressed
declaratively so Catalyst supplies pushdown, pruning, join selection,
partial aggregation, and AQE for free.

Every builder takes (spark, sf_dir) and returns a DataFrame whose column
names are aliased to match the DuckDB oracle in ``__spark_entry__.py``.
Floating-point aggregates are rounded so engine-order-of-summation noise
can't break the driver's hash compare.

Scale notes are per-builder; the recurring ones:
  * dims (region, nation, supplier, part at any SF) are broadcast — no
    shuffle of the fact table for star joins;
  * aggregations rely on map-side partial agg (Catalyst automatic);
  * top-k is always orderBy+limit → TakeOrderedAndProject, never a full sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from semantic_index_spark.operators import skew as _skew
from semantic_index_spark.session import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: single-pass grouped aggregation over
    lineitem with a pushed-down date filter. Map-side partial agg makes the
    shuffle O(groups), not O(rows) — the canonical 100 TB-safe aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: filter each side BEFORE the join (predicate pushdown
    shrinks both shuffle inputs), join on keys, aggregate, top-10 by
    revenue. customer is dim-sized → broadcast."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join. All dimension tables broadcast; the
    only shuffles are fact-fact (lineitem ⋈ orders) and the final group-by.
    The n_nationkey == s_nationkey AND == c_nationkey constraint is applied
    as join conditions so Catalyst can reorder."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full predicate surface in one query: =, range, IN, LIKE, NOT NULL —
    all pushed to the parquet scan (visible as PushedFilters in explain)."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        (F.col("p_size") >= 10)
        & (F.col("p_size") < 40)
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_type").like("S%")
        & F.col("p_name").isNotNull()
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface (the implicit core of the reference's
    duplicate policies, `SemanticDatabase.cs:169-183`): customers WITH
    orders (semi) tagged 1, WITHOUT (anti) tagged 0 — expressed as one
    left join + indicator aggregate so both semantics hash-check at once."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    has = orders.select("o_custkey").distinct()
    return (
        cust.join(has, cust.c_custkey == has.o_custkey, "left")
        .select(
            "c_custkey",
            F.when(F.col("o_custkey").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("has_orders"),
        )
    )


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING: customers with > 12 orders and their spend."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
        .filter(F.col("n_orders") > 12)
    )


def rollup_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over the region→nation hierarchy with customer
    counts; NULL group markers match ANSI semantics in both engines."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    joined = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal")
    )


def cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over lineitem (returnflag × linestatus) — all 4 grouping sets."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer order total: window sum with deterministic
    (o_orderdate, o_orderkey) ordering. Shuffles once on the partition key;
    rows-between frame avoids a full re-sort per row."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("order_seq"),
    )


def window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + lag/lead per market segment over customer balances — the
    SCALE-SAFE top-n window shape. ``c_mktsegment`` has 5 values, so the
    naive ``Window.partitionBy(c_mktsegment)`` funnels a fifth of the
    corpus through one reducer at 100 TB. Since only ``bal_rank <= 5``
    survives (and ``lead`` of rank 5 needs rank 6), prune FIRST with
    ``skew.capped_top_n(n=6)`` — salt-cell local top-6 then exact top-6
    over the ≤ salt_n·6 survivors, row-identical to the direct window —
    and run the exact rank/lag/lead window on ≤ 30 rows. The global top-6
    of a segment is always a subset of the union of per-salt-cell top-6s,
    so ranks, lag, and lead on the pruned set equal the full-table values
    for every emitted row."""
    cust = load_table(spark, sf_dir, "customer")
    order = [F.desc("c_acctbal"), F.asc("c_custkey")]
    cand = _skew.capped_top_n(
        cust.select("c_mktsegment", "c_custkey", "c_acctbal"),
        ["c_mktsegment"], order, n=6,
    )
    w = Window.partitionBy("c_mktsegment").orderBy(*order)
    return cand.select(
        "c_mktsegment",
        "c_custkey",
        F.rank().over(w).alias("bal_rank"),
        F.round(F.lag("c_acctbal", 1).over(w), 2).alias("prev_bal"),
        F.round(F.lead("c_acctbal", 1).over(w), 2).alias("next_bal"),
    ).filter(F.col("bal_rank") <= 5)


def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT surface: nation keys that have customers
    vs. suppliers, tagged by which set-op produced them."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    both = cust.intersect(supp).withColumn("tag", F.lit("both"))
    cust_only = cust.exceptAll(supp).withColumn("tag", F.lit("cust_only"))
    supp_only = supp.exceptAll(cust).withColumn("tag", F.lit("supp_only"))
    return both.unionByName(cust_only).unionByName(supp_only)


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface over documents: case, substring, length,
    split-count, regexp_replace normalization, concat."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.length("text").alias("text_len"),
        F.size(F.split(F.col("text"), " ")).alias("n_words"),
        F.regexp_replace(F.col("text"), r"\s+", "_").substr(1, 20).alias("norm_head"),
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("lang_source"),
    )


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: monthly revenue rollup via year/month extraction
    (ints, engine-portable) + day-of-week counts."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"), F.month("o_orderdate").alias("order_month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("monthly_revenue"),
        )
    )


def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON surface over events.props (the reference items are opaque JSON —
    `SemanticDatabase.cs:161`): extract a field, cast, aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def math_case_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math/CASE surface: sqrt/pow/abs/floor/ceil + CASE buckets."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.pow(F.col("l_discount") + 1.0, 2), 6).alias("disc_sq"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
        .alias("qty_bucket"),
    )


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group (exact — approx_count_distinct exists but
    its HLL differs across engines, so the oracle-checked variant is exact;
    the approx variant is exercised in tests)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per market segment — the SCALE-SAFE form. The naive
    ``Window.partitionBy(c_mktsegment)`` (5 values) is a one-reducer
    funnel per segment; distribution measures can't be pruned like top-n
    because every row's position matters. Instead ``skew.grouped_ranks``
    computes per-segment (row_number, group size) via the range-
    partitioned global-ranking primitive — a group spans as many range
    partitions as it needs — and the three measures follow
    arithmetically: with a TOTAL order, rank = row_number, so
    percent_rank = (rk−1)/(n−1) (0 when n = 1), cume_dist = rk/n, and
    ntile(4) by the SQL-standard split (first n mod 4 tiles get
    ⌈n/4⌉ rows, the rest ⌊n/4⌋). Bit-identical to the window form:
    identical integer operands feed identical double divisions."""
    cust = load_table(spark, sf_dir, "customer")
    d = cust.select("c_mktsegment", "c_custkey", "c_acctbal").withColumn(
        "_negbal", -F.col("c_acctbal")
    )
    r = _skew.grouped_ranks(
        d, ["c_mktsegment"], ["_negbal", "c_custkey"],
        rank_alias="_rk", count_alias="_n",
    )
    q = F.expr("_n DIV 4")
    rem = F.expr("_n % 4")
    ntile4 = F.when(
        F.col("_rk") <= rem * (q + F.lit(1)),
        F.expr("(_rk - 1) DIV (_n DIV 4 + 1)") + F.lit(1),
    ).otherwise(
        rem + F.expr("(_rk - 1 - (_n % 4) * (_n DIV 4 + 1)) DIV (_n DIV 4)") + F.lit(1)
    )
    return (
        r.filter(F.col("c_custkey") < 200)
        .select(
            "c_mktsegment",
            "c_custkey",
            ntile4.cast("int").alias("quartile"),
            F.round(
                F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
                    (F.col("_rk") - 1).cast("double") / (F.col("_n") - 1).cast("double")
                ),
                6,
            ).alias("pct_rank"),
            F.round(F.col("_rk").cast("double") / F.col("_n").cast("double"), 6).alias("cume"),
        )
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube): revenue by
    (year, priority), (year), and () — plus grouping_id so the oracle can
    distinguish set membership from genuine NULLs."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT year(o_orderdate) AS order_year, o_orderpriority,
               cast(grouping(year(o_orderdate)) AS INT) * 2
                 + cast(grouping(o_orderpriority) AS INT) AS gid,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                                (year(o_orderdate)), ())
        """
    )


def exists_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries (Catalyst rewrites them to
    semi/anti joins — the declarative form of the reference's Contains,
    `SemanticDatabase.cs:228-242`)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("cust_eq")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_eq")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment FROM cust_eq c
        WHERE EXISTS (SELECT 1 FROM orders_eq o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders_eq o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        """
    )


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot lineitem quantity by linestatus (fixed pivot values so the
    output schema is static — the distributed-safe form; dynamic pivot
    would need a driver-side distinct pass). Oracle = portable CASE
    aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_f"),
            F.col("O").alias("qty_o"),
        )
    )


def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    ANSI percentile_cont == DuckDB quantile_cont). At 100 TB the sketch
    variant ``approx_percentile`` (KLL, bounded memory, mergeable partials)
    is the right tool — but sketches differ across engines, so the
    oracle-checked row is exact and the approx path is pytest-asserted
    against it within its error bound."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE percentile buffer per group for all 4 quantiles (the array form),
    # not 4 independent value buffers — 4× less agg memory and sort work.
    grouped = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))").alias("_ps"),
        F.count("*").alias("n_rows"),
    )
    return grouped.select(
        "l_returnflag",
        *[
            F.round(F.col("_ps")[i], 6).alias(f"p{int(p * 100)}")
            for i, p in enumerate((0.25, 0.5, 0.75, 0.95))
        ],
        "n_rows",
    )


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT top-k (reference top-k shape, `SemanticDatabase.cs:
    281-299`) → TakeOrderedAndProject: per-partition heap + merge."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


def events_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 1-hour windows (batch form of the streaming agg;
    same F.window operator the streaming path uses). Window start exposed
    as epoch seconds for engine-portable hashing."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery through the SQL front door: orders
    strictly above their own customer's minimum order value. Catalyst
    de-correlates this into an aggregate + join — same plan family as the
    EXISTS rewrites, no per-row re-execution (the naive nested-loop a
    correlated subquery implies would be quadratic). ``min`` keeps the
    threshold order-independent and exact across engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ss")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders_ss o
        WHERE o_totalprice > (
            SELECT min(o2.o_totalprice) FROM orders_ss o2
            WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic surface: NULL-producing conditionals, coalesce
    chains, null-safe equality (``<=>`` / IS NOT DISTINCT FROM), and
    NULL-aware conditional counting. NULLs are derived deterministically
    from the data so both engines see identical inputs. Pure projection +
    one map-side-combined aggregate."""
    ev = load_table(spark, sf_dir, "events")
    v1 = F.when(F.col("value") < 50, None).otherwise(F.col("value"))
    v2 = F.when(F.col("value") >= 450, None).otherwise(F.col("value"))
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count(v1).alias("n_v1"),  # count(col) skips NULLs
        F.round(F.sum(F.coalesce(v1, v2, F.lit(0.0))), 2).alias("sum_coalesced"),
        F.sum(F.when(v1.eqNullSafe(v2), 1).otherwise(0)).cast("bigint").alias("n_nullsafe_eq"),
        F.sum(F.when(v1.isNull() & v2.isNull(), 1).otherwise(0)).cast("bigint").alias("n_both_null"),
    )


def agg_modern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The newer aggregate surface: interpolated ``median`` (== DuckDB's),
    ``count_if``, ``bool_and``/``bool_or`` — all with map-side partials,
    shuffle O(groups)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.median("value"), 6).alias("median_value"),
        F.count_if(F.col("value") > 250.0).alias("n_big"),
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 480.0).alias("any_huge"),
    )


def array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column — transform /
    filter / exists / aggregate, all JVM lambda expressions inside
    whole-stage codegen (zero Python, zero explode: the array never fans
    out to rows)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    arr = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(F.filter(arr, lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                arr,
                F.lit(0.0),
                lambda acc, x: acc + F.when(x > 0, x.cast("double")).otherwise(0.0),
            ),
            6,
        ).alias("sum_pos"),
        F.round(
            F.array_max(F.transform(arr, lambda x: F.abs(x.cast("double")))), 6
        ).alias("max_abs"),
        F.exists(arr, lambda x: x.cast("double") > 0.3).alias("has_big"),
    )


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SLIDING windows (2h window, 1h slide) in batch form —
    the same ``F.window(ts, window, slide)`` operator a streaming
    aggregation uses, so the batch oracle certifies the streaming
    semantics. Each event lands in window/slide = 2 windows;
    Spark expands that assignment JVM-side (the oracle replays it as an
    explicit 2-element unnest of epoch-aligned starts)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


def delete_ops_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove + RemoveRange semantics as a pure relational program:
    `Remove` deletes ALL records equal to the item (`SemanticDatabase.cs:
    423-437`, remove-all at `:431`) — here an anti-join on the text key of
    doc 0 (broadcast: single row); `RemoveRange` (`:443-460`) deletes a
    victim set — a broadcast anti-join on doc_id. Both are shuffle-free
    against a partitioned index at any scale."""
    d = load_table(spark, sf_dir, "documents")
    victim_text = d.filter(F.col("doc_id") == 0).select("text")
    victims = spark.range(1, 6).select(F.col("id").alias("doc_id"))
    return (
        d.select("doc_id", "text")
        .join(F.broadcast(victim_text), "text", "left_anti")
        .join(F.broadcast(victims), "doc_id", "left_anti")
    )


def skip_policy_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKIP duplicate policy (`DuplicateHandling.cs:22`,
    `SemanticDatabase.cs:175-178`): an incoming batch keeps only keys NOT
    already in the store (anti-join), then unions. Batch = docs 0-9 with
    ids 0-4 colliding (skipped) and 5-9 re-keyed +1000 (inserted)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") < 10).select(
        F.when(F.col("doc_id") < 5, F.col("doc_id"))
        .otherwise(F.col("doc_id") + 1000)
        .alias("doc_id"),
        F.concat(F.lit("incoming: "), F.col("text")).alias("text"),
    )
    fresh = batch.join(d.select("doc_id"), "doc_id", "left_anti")
    return d.unionByName(fresh)


def allow_policy_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALLOW duplicate policy (`DuplicateHandling.cs:12`,
    `SemanticDatabase.cs:169` bypass): plain append keeps duplicates.
    Re-adding docs 0-9 then counting copies per key shows exactly which
    keys duplicated (n_copies=2) — the observable post-state."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    re_added = d.filter(F.col("doc_id") < 10)
    return (
        d.unionByName(re_added)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_copies"))
    )


def batch_sessionization(spark: SparkSession, sf_dir: str, gap_s: int = 1800) -> DataFrame:
    """Gaps-and-islands sessionization in batch: a new session starts when
    the gap to the previous event (per user) is ≥ gap_s seconds; session id
    is the running count of session starts. Two windows over ONE shuffle on
    user_id (same partitioning reused). The batch twin of the streaming
    `session_window` builder — this form is engine-portable (lag + running
    sum), which is what the oracle replays."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_timestamp("ts"), "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts"), 1).over(w)
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap >= gap_s), 1).otherwise(0).alias("is_start"),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_start").over(
            Window.partitionBy("user_id")
            .orderBy(F.unix_timestamp("ts"), "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_timestamp("ts")).alias("session_start"),
        F.max(F.unix_timestamp("ts")).alias("session_end"),
    )


def session_window_agg(spark: SparkSession, sf_dir: str, gap_s: int = 1800) -> DataFrame:
    """Native ``F.session_window`` in BATCH — the same operator a streaming
    aggregation uses, so the session-window
    category keeps an oracle-checked batch row even when streaming infra
    flakes. Spark merges two events into one session when the later event
    starts at or before the earlier session's end (ts + gap, INCLUSIVE — a
    gap of exactly gap_s merges, verified against sf0.1 data); the oracle
    replays that as gaps-and-islands (new session only when the inter-event
    gap strictly exceeds gap_s). Session end is last event ts + gap, per
    Spark's definition.
    Event time is quantized to WHOLE SECONDS before sessionization: the
    source carries microsecond timestamps, and a sub-second gap straddling
    the threshold only after flooring would otherwise split differently
    here than in any second-granular replay (observed at sf0.1) — and the
    output already reports second-granular unix_timestamps, so quantizing
    the input makes boundaries self-consistent. One shuffle on user_id;
    state per open session — scales with concurrent sessions, not stream
    length, in the streaming twin."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_seconds(F.unix_timestamp("ts"))
    )
    return (
        ev.groupBy(F.session_window("ts", f"{gap_s} seconds").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def full_outer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: every nation key appearing on either the customer
    or the supplier side, with NULL-safe coalesced counts — completes the
    join-type surface (inner/left/semi/anti/cross are covered elsewhere)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk2"))
        .agg(F.count("*").alias("n_supp"))
    )
    return cust.join(supp, cust.nk == supp.nk2, "full_outer").select(
        F.coalesce(cust.nk, supp.nk2).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


def rolling_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window over event time: for each event, the count and
    value-sum of same-type events in the preceding hour (inclusive) —
    the SCALE-SAFE block-overlap form. Partitioning the window by
    ``event_type`` alone (~6 values) sends a sixth of the corpus through
    one reducer; instead sub-bucket by (event_type, time block) with
    carry-in duplication: block = 1 day ≥ the 3600 s frame, so a row's
    preceding-hour frame spans at most its own block and the previous
    one. Rows in a block's last hour are duplicated as carry-ins of the
    NEXT block (≈ 4 % overhead at a 24 h block); the RANGE window runs
    per (event_type, block) — every partition bounded by one day of one
    type — and only resident rows are emitted. Frame contents are
    row-identical to the global window, so the aggregates are exact.
    ``block_s`` is the scale knob: shrink it if one (type, day) still
    overloads a reducer."""
    block_s = 86400
    frame_s = 3600
    ev = load_table(spark, sf_dir, "events").withColumn("_uts", F.unix_timestamp("ts"))
    res = ev.withColumn("_blk", F.floor(F.col("_uts") / block_s)).withColumn(
        "_res", F.lit(True)
    )
    carry = (
        ev.filter(F.col("_uts") % block_s >= block_s - frame_s)
        .withColumn("_blk", F.floor(F.col("_uts") / block_s) + 1)
        .withColumn("_res", F.lit(False))
    )
    w = (
        Window.partitionBy("event_type", "_blk")
        .orderBy("_uts")
        .rangeBetween(-frame_s, 0)
    )
    return (
        res.unionByName(carry)
        .select(
            "event_id",
            "event_type",
            "_res",
            F.count("*").over(w).alias("n_last_hour"),
            F.round(F.sum("value").over(w), 2).alias("sum_last_hour"),
        )
        .filter(F.col("_res"))
        .drop("_res")
    )


def unpivot_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the per-flag quantity pivot turned back into long
    form via the built-in unpivot — wide→long without a UDF."""
    wide = pivot_status(spark, sf_dir)
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty_f", "qty_o"],
        variableColumnName="status_col",
        valueColumnName="qty",
    )


def upsert_update_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's default UPDATE duplicate policy as a pure relational
    program (anti-join + union — `SemanticDatabase.cs:171-174`): replace
    the text of docs 0-9 with an updated payload, keep everything else."""
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") < 10).select(
        "doc_id", F.concat(F.lit("updated: "), F.col("text")).alias("text")
    )
    old = d.select("doc_id", "text").join(new.select("doc_id"), "doc_id", "left_anti")
    return old.unionByName(new)


def variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path for semi-structured data: ``parse_json``
    ONCE into the binary variant encoding, then typed ``variant_get``
    extractions — at scale this beats per-field ``get_json_object``
    (which re-parses the string for every field) and is the open-format
    answer to a JSON column you query repeatedly. The aggregate mirrors
    the relational shape so the oracle replays it over DuckDB's JSON
    operators."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("_v")
    ).select(
        "event_type",
        F.try_variant_get("_v", "$.k", "int").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("k").cast("bigint").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).cast("bigint").alias("n_high"),
    )


def lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join through the SQL front door: each region's
    top-2 nations by customer count, pulled by a per-row dependent
    subquery with ORDER BY + LIMIT. Catalyst plans the de-correlated
    form (window/join family), not a per-region re-execution — the same
    discipline as the scalar/EXISTS subquery rows. Deterministic tiebreak
    on the name."""
    load_table(spark, sf_dir, "region").createOrReplaceTempView("region_lt")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lt")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lt")
    return spark.sql(
        """
        SELECT r.r_name AS region_name, t.nation_name, t.n_customers
        FROM region_lt r,
        LATERAL (
            SELECT n.n_name AS nation_name, count(c.c_custkey) AS n_customers
            FROM nation_lt n JOIN customer_lt c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_customers DESC, nation_name
            LIMIT 2
        ) t
        """
    )


def calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar spine via a RECURSIVE CTE (Spark 4 SQL): generate
    every day between the data's min and max date, cross with the event
    types, and zero-fill the (day, type) buckets that have no qualifying
    events — the gap-filling step every "detect silent days" monitor
    needs (observed-bucket aggregations silently skip them; see
    ``timeseries.seasonal_anomaly``'s caveat). The rare-event filter makes
    real zeros at test scale. The recursion is driver-cheap (one row per
    day); the counts side is an ordinary pruned partial aggregation."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_cs")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
            SELECT min(to_date(ts)) AS lo, max(to_date(ts)) AS hi FROM events_cs
        ),
        days AS (
            SELECT lo AS d, hi FROM bounds
            UNION ALL
            SELECT date_add(d, 1), hi FROM days WHERE d < hi
        ),
        types AS (SELECT DISTINCT event_type FROM events_cs),
        counts AS (
            SELECT to_date(ts) AS d, event_type, count(*) AS n
            FROM events_cs WHERE value > 480 GROUP BY 1, 2
        )
        SELECT days.d AS bucket_date, types.event_type,
               CAST(coalesce(counts.n, 0) AS BIGINT) AS n
        FROM days CROSS JOIN types
        LEFT JOIN counts ON counts.d = days.d AND counts.event_type = types.event_type
        """
    )


def group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS via the built-in linear-regression
    aggregates (`regr_slope`/`regr_intercept`/`corr` — one partial-agg
    pass computing the Σx/Σy/Σxy/Σx² sufficient statistics map-side, the
    same mergeable-moments shape as the streaming moments sink): trend of
    event value over time per event type. The "is this metric drifting"
    regression every monitoring pipeline fits — without collecting
    anything."""
    ev = load_table(spark, sf_dir, "events")
    x = F.col("ts").cast("timestamp").cast("double")
    return (
        ev.select(
            "event_type", x.alias("x"), F.col("value").alias("y")
        )
        .groupBy("event_type")
        .agg(
            F.count("y").cast("bigint").alias("n"),
            F.round(F.expr("regr_slope(y, x)") * 86400.0, 6).alias("slope_per_day"),
            F.round(F.expr("regr_intercept(y, x)"), 2).alias("intercept"),
            F.round(F.corr("y", "x"), 6).alias("pearson_r"),
        )
    )


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the within-doc token distribution —
    the information-density signal quality filters use (boilerplate and
    keyword-stuffed spam score low; natural prose scores near the
    vocabulary bound). Token frequencies explode → per-(doc, tok) counts
    → one -Σ p·ln p fold per doc: two keyed aggregations, both partial-
    aggregated map-side, no Python anywhere."""
    from semantic_index_spark.functions import text as T

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.col("doc_id"), F.explode(T.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.sum("c").over(tot).cast("double")
    return (
        tf.withColumn("_term", -p * F.log(p))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.round(F.sum("_term"), 6).alias("entropy"),
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style bilateral trade volume: revenue shipped between two
    specific nations per (supplier nation, customer nation, year).
    Exercises a DOUBLE dimension role (nation joined twice under two
    aliases) plus the cross-pair disjunction — both nation sides
    broadcast, the only shuffles are the fact-fact join and the final
    rollup. The nation filter reaches both broadcast builds so the fact
    side is pre-pruned by the runtime join filters."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rev_pair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair | rev_pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


def session_paths(spark: SparkSession, sf_dir: str, depth: int = 3) -> DataFrame:
    """User-journey path mining: each user's first ``depth`` event types
    in time order, concatenated into a path string, counted across users
    — "what do people do first" funnels without pre-declared steps. One
    keyed window (rank within user) + one path groupBy, both partial-
    aggregable; ties at identical timestamps break on event_id so the
    path is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = (
        ev.filter(F.col("user_id").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= depth)
    )
    paths = firstk.groupBy("user_id").agg(
        F.concat_ws(
            ">", F.transform(F.sort_array(F.collect_list(F.struct("_rn", "event_type"))), lambda s: s["event_type"])
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count("*").cast("bigint").alias("n_users"))


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed function surface: build a map from token arrays
    (map_from_arrays + aggregate), transform_values, map_filter, and
    map_zip_with — exploded back to (doc_id, tok, n, boosted) rows so the
    cross-engine oracle can compare (DuckDB's map type round-trips
    differently; rows are the portable interchange). All JVM higher-order
    functions, map-side only."""
    from semantic_index_spark.functions import text as T

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = d.select(F.col("doc_id"), T.tokens("text").alias("_t"))
    # token -> count map via explode → partial-agg count → map_from_entries:
    # linear in tokens. (The tempting pure-HOF form — size(filter(_t, = t))
    # inside transform(array_distinct(_t)) — is O(tokens × distinct) PER ROW
    # and melts on long documents; never copy that shape to corpus scale.)
    m = (
        toks.select("doc_id", F.explode("_t").alias("_tok"))
        .groupBy("doc_id", "_tok")
        .agg(F.count("*").cast("int").alias("_cnt"))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("_tok", "_cnt"))).alias("tf")
        )
    )
    # keep tokens appearing >= 2 times, boost counts 10x via map ops
    kept = m.select(
        "doc_id",
        F.map_filter("tf", lambda k, v: v >= 2).alias("tf2"),
    ).select(
        "doc_id",
        F.map_zip_with(
            "tf2",
            F.transform_values("tf2", lambda k, v: v * 10),
            lambda k, v1, v2: F.struct(v1.alias("n"), v2.alias("boosted")),
        ).alias("z"),
    )
    return kept.select(
        "doc_id", F.explode("z").alias("tok", "s")
    ).select(
        "doc_id",
        "tok",
        F.col("s.n").cast("bigint").alias("n"),
        F.col("s.boosted").cast("bigint").alias("boosted"),
    )


def q10_returned_items(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """TPC-H Q10-style returned-item reporting: top customers by revenue
    lost to returned lineitems in a date window. Fact-fact join + two
    broadcast dims + bounded top-k (TakeOrderedAndProject — revenue
    rounded in the sort key so the cutoff is engine-portable, id
    tiebreak)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.first("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def q12_late_shipping(spark: SparkSession, sf_dir: str, late_days: int = 90) -> DataFrame:
    """TPC-H Q12-style service audit adapted to this schema (the synthetic
    lineitem has no shipmode/commitdate): per return flag, how many LATE
    lineitems (shipped more than ``late_days`` after the order date)
    belong to high- vs low-priority orders. Conditional aggregation over
    one fact-fact join — the CASE-inside-SUM shape."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.datediff("l_shipdate", "o_orderdate") > late_days)
        .groupBy("l_returnflag")
        .agg(
            F.sum(hi).cast("bigint").alias("high_line_count"),
            F.sum(1 - hi).cast("bigint").alias("low_line_count"),
        )
    )


def cdc_apply(spark: SparkSession, sf_dir: str, delete_type: str = "error") -> DataFrame:
    """CDC changelog compaction: apply an ordered stream of per-key change
    events (upserts + delete tombstones) and return the final table state —
    the standard lakehouse "apply changes" primitive (Delta MERGE / Flink
    changelog → table). The events table plays the changelog: one change
    per event, ``delete_type`` rows are tombstones, everything else is an
    upsert of (event_type, value).

    Last-writer-wins per key via ONE window on (user_id): row_number over
    the (epoch, event_id) change order picks the terminal change, and the
    same partition supplies n_changes with no extra shuffle. Keys whose
    terminal change is a tombstone vanish from the output — exactly the
    compaction a streaming sink would persist. One hash-partition shuffle
    on the key at any scale; skewed keys salt the same way salted_agg does.
    The value surfaces as floor-cents (``floor(100·value)`` — exact on
    both engines; a round(2) on an arbitrary stored double can straddle a
    half-cent boundary)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("_tse"), F.desc("event_id")
    )
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("_tse"),
    )
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_changes",
            F.count("*").over(Window.partitionBy("user_id")).cast("bigint"),
        )
        .filter((F.col("_rn") == 1) & (F.col("event_type") != delete_type))
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.floor(F.col("value") * 100).cast("bigint").alias("last_value_cents"),
            F.col("_tse").alias("last_tse"),
            "n_changes",
        )
    )


def skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts no other part dominates on
    (lower price, larger size). The naive formulation is a NOT-EXISTS
    inequality self-join — a nested-loop blow-up at scale. This is the
    scale-safe shape: collapse to one row per distinct price first
    (groupBy → max size; a hash shuffle), run the running-max window over
    that DISTINCT-PRICE relation (cardinality = the price domain, bounded
    and tiny relative to the fact table — same bounded-spine pattern as
    skew_profile), then broadcast-join the surviving (price, size) frontier
    spec back to recover every qualifying part. Prices compare as exact
    integer cents; a part is on the frontier iff it carries its price
    group's max size AND that size strictly exceeds every cheaper group's
    best (equal-price-equal-size duplicates don't dominate each other, so
    all of them survive)."""
    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    per_price = part.groupBy(cents.alias("price_cents")).agg(
        F.max("p_size").alias("best_size")
    )
    w = Window.orderBy("price_cents").rangeBetween(Window.unboundedPreceding, -1)
    frontier = per_price.withColumn(
        "_lower_best", F.max("best_size").over(w)
    ).filter(
        F.col("_lower_best").isNull()
        | (F.col("best_size") > F.col("_lower_best"))
    )
    return (
        part.join(
            F.broadcast(frontier),
            (cents == frontier.price_cents)
            & (part.p_size == frontier.best_size),
        )
        .select(
            "p_partkey",
            "p_size",
            (F.col("price_cents") / 100.0).alias("p_retailprice"),
        )
    )
