"""TPC-H-style relational queries: scans, joins, grouped/rolled-up aggregations, window functions, set operations, sorts and top-k over the region/nation/customer/supplier/part/orders/lineitem tables.

Split from the former single-module queries.py (round 7). The
QUERIES/ORACLES registration contract is unchanged: importing this
module registers its queries with the shared registry.
"""

from __future__ import annotations

from mapreducewordoccurences_spark.queries._shared import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# Relational surface (SURVEY.md §2d: scans/filters/joins/aggs/windows/…)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(round(l_quantity * 1e4, 0) AS BIGINT)) / 1e4      AS sum_qty,
           SUM(CAST(round(l_extendedprice * 1e4, 0) AS BIGINT)) / 1e4 AS sum_base_price,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 1e6, 0) AS BIGINT)) / 1e6 AS sum_disc_price,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1e6, 0) AS BIGINT)) / 1e6 AS sum_charge,
           SUM(CAST(round(l_quantity * 1e6, 0) AS BIGINT)) / 1e6 / COUNT(l_quantity)      AS avg_qty,
           SUM(CAST(round(l_extendedprice * 1e6, 0) AS BIGINT)) / 1e6 / COUNT(l_extendedprice) AS avg_price,
           SUM(CAST(round(l_discount * 1e6, 0) AS BIGINT)) / 1e6 / COUNT(l_discount)      AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation. Filter reaches
    the parquet scan (PushedFilters); partial aggregation bounds the
    shuffle at (groups × partitions) rows. Sums use the fixed-point
    int64 protocol (operators/aggregates.py fixedpoint_sum): per-row
    half-up rounding makes it value-identical to the DECIMAL path,
    but the aggregation stays in primitive whole-stage codegen —
    measured ~5× over Decimal128 on this 7-aggregate scan."""
    li = _t(spark, sf_dir, "lineitem")
    disc = "l_extendedprice * (1 - l_discount)"
    charge = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fixedpoint_sum("l_quantity", 4, "sum_qty"),
            fixedpoint_sum("l_extendedprice", 4, "sum_base_price"),
            fixedpoint_sum(disc, 6, "sum_disc_price"),
            fixedpoint_sum(charge, 6, "sum_charge"),
            (fixedpoint_sum("l_quantity", 6) / F.count("l_quantity")).alias("avg_qty"),
            (fixedpoint_sum("l_extendedprice", 6) / F.count("l_extendedprice")).alias(
                "avg_price"
            ),
            (fixedpoint_sum("l_discount", 6) / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_revenue_orders",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → grouped
    revenue → top-k. Customer side shrinks ~1/5 before the join; AQE
    picks broadcast when the filtered side fits."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(decimal_sum(revenue, 6, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join across all six relational tables.
    region/nation are broadcast-hinted (≤25 rows at any SF); the
    fact-side joins shuffle on their keys and AQE handles skew."""
    region = F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .join(cust, cust.c_nationkey == nation.n_nationkey)
        .join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey))
        .groupBy("n_name")
        .agg(decimal_sum(revenue, 6, "revenue"))
    )


@register(
    "semi_join_customers_with_orders",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        semi_join(cust, orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "anti_join_customers_without_recent_orders",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders since 2001 (every customer has SOME
    order in this data, so the unfiltered variant is vacuous — the
    date predicate makes the anti-join discriminating)."""
    cust = _t(spark, sf_dir, "customer")
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        anti_join(cust, recent, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "rollup_orders",
    """
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        decimal_sum("o_totalprice", 4, "total_price"),
    )


@register(
    "cube_lineitem_flags",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        decimal_sum("l_quantity", 4, "sum_qty"),
    )


@register(
    "distinct_parts_per_flag",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "window_topk_orders_per_cust",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 3
    """,
)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — WindowGroupLimit prunes to 3 rows
    per customer per partition before the shuffle."""
    orders = _t(spark, sf_dir, "orders")
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    )


@register(
    "window_running_user_spend",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(28,2)))
                OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM events
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user spend, ordered by event time (epoch nanos) with
    event_id tiebreak. Decimal frame-sum keeps it engine-exact even
    though window sums fold in different orders per engine."""
    ev = _t(spark, sf_dir, "events")
    return running_agg(
        ev.select("event_id", "user_id", "ts", "value"),
        ["user_id"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        F.sum(F.col("value").cast("decimal(28,2)")),
        "__run",
    ).select(
        "event_id", "user_id", F.col("__run").cast("double").alias("running_spend")
    )


@register(
    "setop_nations_intersect",
    """
    SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
    INTERSECT
    SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
    """,
)
def q_setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust_n = _t(spark, sf_dir, "customer").join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    supp_n = _t(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    return cust_n.intersect(supp_n)


@register(
    "setop_nations_except",
    """
    SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
    EXCEPT
    SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
                  WHERE s_acctbal > 5000
    """,
)
def q_setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no high-balance (>5000) supplier
    (the unrestricted variant is empty on this data — every nation
    has both; the balance predicate makes EXCEPT discriminating)."""
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust_n = _t(spark, sf_dir, "customer").join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    supp_n = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 5000)
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    return cust_n.subtract(supp_n)


@register(
    "asof_join_purchase_signup",
    """
    SELECT p.event_id, p.user_id,
           (epoch_us(p.ts) - epoch_us(s.ts)) // 1000000 AS gap_seconds
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest signup at
    or before it (union + single window pass — one shuffle; see
    operators/joins.py)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(
        purchases,
        signups,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=[],
        direction="backward",
    )
    # gap in whole seconds from epoch-micros (schema-adaptive; a direct
    # timestamp subtraction would yield an INTERVAL, which floor rejects)
    gap = F.floor(
        (ts_micros(joined, "ts") - ts_micros(joined, "ts_right")) / F.lit(1_000_000)
    ).cast("long")
    return joined.select("event_id", "user_id", gap.alias("gap_seconds"))


# ---------------------------------------------------------------------------
# Extended relational surface (round 1 widening)
# ---------------------------------------------------------------------------

@register(
    "brand_revenue",
    """
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join on the part table; part is broadcast-hinted (it is
    a per-SKU dimension — orders of magnitude smaller than lineitem)."""
    li = _t(spark, sf_dir, "lineitem")
    part = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            decimal_sum(revenue, 6, "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "grouping_sets_orders",
    """
    SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (neither rollup nor cube): per-priority
    and per-status marginals in ONE pass over orders (Spark expands
    sets map-side — no double scan)."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        """
    )


@register(
    "range_join_quantity_bands",
    """
    SELECT band, count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 25.0),
                 ('high', 25.0, 40.0), ('bulk', 40.0, 1e9)) AS bands(band, lo, hi)
      ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join of lineitem quantities into bands.
    The band table is tiny → broadcast nested-loop with the range
    predicate."""
    li = _t(spark, sf_dir, "lineitem").select("l_quantity")
    bands = F.broadcast(
        spark.createDataFrame(
            [("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 40.0), ("bulk", 40.0, 1e9)],
            "band string, lo double, hi double",
        )
    )
    return (
        li.join(bands, (li.l_quantity >= bands.lo) & (li.l_quantity < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            decimal_sum("l_quantity", 4, "sum_qty"),
        )
    )


@register(
    "lag_delta_user_values",
    """
    SELECT event_id, user_id,
           CAST(ROUND(CAST(value AS DECIMAL(28,2))
                 - LAG(CAST(value AS DECIMAL(28,2)))
                   OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id), 2) AS DOUBLE) AS delta
    FROM events
    """,
)
def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-over-event value delta (lag window). Decimal
    subtraction keeps the difference exact; NULL for each user's first
    event."""
    ev = _t(spark, sf_dir, "events")
    from mapreducewordoccurences_spark.operators.windows import lag_delta

    out = lag_delta(
        ev.select("event_id", "user_id", "ts", F.col("value").cast("decimal(28,2)").alias("__v")),
        ["user_id"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        "__v",
        out_col="__delta",
    )
    return out.select(
        "event_id", "user_id", F.col("__delta").cast("double").alias("delta")
    )


@register(
    "union_customer_supplier_nations",
    """
    SELECT 'customer' AS side, c_nationkey AS nationkey, count(*) AS n
    FROM customer GROUP BY c_nationkey
    UNION ALL
    SELECT 'supplier' AS side, s_nationkey AS nationkey, count(*) AS n
    FROM supplier GROUP BY s_nationkey
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two grouped scans — concatenation only, no
    dedup shuffle."""
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("customer").alias("side"), "nationkey", "n")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("supplier").alias("side"), "nationkey", "n")
    )
    return cust.unionByName(supp)


@register(
    "left_join_order_item_counts",
    """
    SELECT o_orderkey, o_orderstatus,
           count(l_orderkey) AS n_items,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(28,4))), 0) AS DOUBLE) AS sum_qty
    FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_orderstatus
    """,
)
def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join surface: per-order item counts keeping zero-item
    orders (count(col) skips the NULLs a left join produces)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count("l_orderkey").alias("n_items"),
            F.coalesce(
                F.sum(F.col("l_quantity").cast("decimal(28,4)")), F.lit(0)
            ).cast("double").alias("sum_qty"),
        )
    )


@register(
    "orders_by_month",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mon,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension scalar functions (year/month extraction) feeding
    a grouped aggregate — the time-series reporting shape."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            decimal_sum("o_totalprice", 4, "total_price"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped relational widening (round-1 batch 2): filter-agg,
# deep stars, two-level aggs, self-agg thresholds, SQL subqueries.
# ---------------------------------------------------------------------------

@register(
    "q6_discount_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + ungrouped aggregate. The whole
    predicate set reaches the parquet scan (PushedFilters on shipdate /
    discount / quantity) and only 3 columns are read — at 100 TB this
    is the canonical scan-bound query; no shuffle beyond the final
    single-row partial-agg merge. Product l_extendedprice*l_discount is
    one IEEE multiply per row (deterministic), then decimal-exact sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,6)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q9_profit_by_nation_year",
    """
    SELECT n_name,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: fact-to-fact join (lineitem⋈orders, both big →
    sort-merge / AQE's choice) plus two broadcast dims (supplier,
    nation). Group keys come from both sides of the big join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q10_returned_revenue_topk",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, top-20 customers.
    Filter on l_returnflag is pushed to the scan; final top-k is
    TakeOrderedAndProject (no global sort). c_custkey tiebreak makes
    the ordering total, so the LIMIT frontier is deterministic."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q13_order_count_distribution",
    """
    SELECT order_count, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY order_count
    """,
)
def q_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution. Two-level
    aggregate over a filtered LEFT join; the filter lives in the join
    condition (NOT the WHERE — that would turn the join inner and drop
    zero-order customers). Second agg's input is one row per customer,
    so its shuffle is tiny."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy(cust.c_custkey)
        .agg(F.count(orders.o_orderkey).alias("order_count"))
    )
    return per_cust.groupBy("order_count").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "q14_promo_revenue_ratio",
    """
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                  AS DOUBLE) AS promo_ratio,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    """,
)
def q_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio (promo revenue
    share). Both sums are decimal-exact; the ratio is ONE double
    divide at the end — deterministic across partitionings. part is
    broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "1998-01-01")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    zero = F.lit(0).cast("decimal(28,6)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(rev).cast("double")
            ).alias("promo_ratio"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH thresh AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(l_quantity) * 0.5 AS qty_thresh
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             AS total_price,
           COUNT(*) AS n_items
    FROM lineitem l JOIN thresh t ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.qty_thresh
    """,
)
def q_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: rows below half their part's average quantity.
    The per-part average is a self-aggregation joined back to the fact;
    both sides share the l_partkey partitioning, so with matched
    shuffle keys Catalyst reuses one exchange. The threshold is
    decimal-exact-sum / count * 0.5 — two IEEE ops, same on both
    engines, so the < boundary is bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    thresh = li.groupBy("l_partkey").agg(
        (decimal_avg("l_quantity") * F.lit(0.5)).alias("qty_thresh")
    )
    return (
        li.join(thresh, on="l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            decimal_sum("l_extendedprice", scale=6, alias="total_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q18_large_order_customers",
    """
    SELECT c_name, o.o_orderkey, o_orderdate,
           CAST(sq.total_qty AS DOUBLE) AS total_qty
    FROM orders o
    JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(28,6))) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(28,6))) > 300) sq
      ON o.o_orderkey = sq.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)
def q_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 300 (the
    HAVING subquery), joined back to orders+customer. The HAVING
    output is tiny → both upstream joins broadcast it under AQE."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@register(
    "rich_idle_customers_by_nation",
    """
    SELECT n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                              / COUNT(c_acctbal)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY n_name
    """,
)
def q_rich_idle_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers richer than the global positive-
    balance average with no jumbo (>400k) order. The scalar subquery becomes
    a broadcast cross-join of a 1-row aggregate (never a driver-side
    collect — the scalar stays on executors); NOT EXISTS is a left-anti
    join."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(decimal_avg("c_acctbal", alias="avg_bal"))
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    jumbo = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    idle = anti_join(rich, jumbo, "c_custkey")
    return (
        idle.join(F.broadcast(nation), idle.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            decimal_sum("c_acctbal", scale=4, alias="total_bal"),
        )
    )


@register(
    "setop_nationkeys_except_all",
    """
    SELECT nationkey, COUNT(*) AS n
    FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS nationkey FROM supplier
    )
    GROUP BY nationkey
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (bag semantics — multiplicities subtract,
    unlike the distinct EXCEPT elsewhere in the catalog). Spark plans
    it as a single hash aggregation over tagged counts."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.exceptAll(supp).groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "setop_nationkeys_intersect_all",
    """
    SELECT nationkey, COUNT(*) AS n
    FROM (
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT ALL
        SELECT s_nationkey AS nationkey FROM supplier
    )
    GROUP BY nationkey
    """,
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (pairwise with the EXCEPT ALL query:
    min-of-multiplicities semantics)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersectAll(supp).groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "rank_family_part_prices",
    """
    SELECT p_partkey,
           CAST(ntile(4) OVER w AS INT) AS price_quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
    """,
)
def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function family (ntile / percent_rank / cume_dist) per
    brand. The (price, partkey) composite makes the order total, so
    there are no peer rows and both ratio functions are single int/int
    divisions — deterministic doubles."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return part.select(
        "p_partkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "q7_nation_pair_revenue",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name < sn.n_name
    GROUP BY cn.n_name, sn.n_name
    """,
)
def q_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume. The nation dim joins
    TWICE under different roles (customer's vs supplier's) — broadcast
    both; the n_name inequality dedupes unordered pairs."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .where(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q11_top_value_parts",
    """
    WITH pv AS (
        SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS val
        FROM lineitem GROUP BY l_partkey
    ), tot AS (SELECT CAST(SUM(val) AS DOUBLE) AS total,
                      COUNT(*) AS n_parts FROM pv)
    SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE CAST(val AS DOUBLE) > total / n_parts * 1.2
    """,
)
def q_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups exceeding a multiple of the GLOBAL mean
    (parts 20% above average value — scale-free, so the predicate
    stays selective at every SF). The global aggregate re-aggregates
    the per-part aggregate (tiny) and broadcasts back as a 1-row cross
    join — two shuffles total, no driver collect, no second lineitem
    scan. total/n*1.2 is a fixed op sequence — same double on both
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).alias("val")
    )
    tot = pv.agg(
        F.sum("val").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(
            F.col("val").cast("double")
            > F.col("total") / F.col("n_parts") * 1.2
        )
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
    )


@register(
    "q19_disjunctive_predicates",
    """
    SELECT COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 10)
       OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 5)
       OR (p_type = 'PROMO' AND l_quantity < 5)
    """,
)
def q_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates. The OR
    spans both sides so it can't push below the join — the join stays
    a plain broadcast equi-join and the disjunction filters after;
    Catalyst still pushes the p_brand/p_type IN-set and per-branch
    ranges where it can."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 5))
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") < 5))
    )
    return joined.where(cond).agg(
        F.count(F.lit(1)).alias("n_items"),
        decimal_sum("l_extendedprice", scale=6, alias="total"),
    )


@register(
    "q21_sole_qualifying_supplier",
    """
    SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS n_orders
    FROM lineitem l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_quantity >= 45
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_quantity >= 45)
    GROUP BY s_name
    """,
)
def q_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: orders where exactly ONE supplier ships a
    jumbo (≥45) line while other suppliers participate. The correlated
    EXISTS/NOT-EXISTS pair is rewritten as per-order aggregates joined
    back (count of distinct suppliers, count of distinct QUALIFYING
    suppliers) — one extra pass over lineitem instead of two
    correlated probes; the tiny per-order table broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct(
            F.when(F.col("l_quantity") >= 45, F.col("l_suppkey"))
        ).alias("n_qual_supps"),
    )
    qual = li.where(F.col("l_quantity") >= 45)
    return (
        qual.join(per_order, "l_orderkey")
        .where((F.col("n_supps") >= 2) & (F.col("n_qual_supps") == 1))
        .join(F.broadcast(supp), qual.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("n_orders"))
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_0'
                         THEN CAST(volume AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(28,6))) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_items
    FROM (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region    ON cn.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'
    )
    GROUP BY o_year
    """,
)
def q_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's import volume
    per year — a 7-relation join where nation again plays two roles,
    then a conditional-sum ratio (decimal-exact numerator and
    denominator, one double divide)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    zero = F.lit(0).cast("decimal(28,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_0", vol).otherwise(zero)).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q12_priority_by_quantity_band",
    """
    SELECT CASE WHEN l_quantity < 25 THEN 'small' ELSE 'large' END AS qty_band,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def q_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: two-way conditional counts after a fact-fact
    join, grouped by a derived band."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.when(F.col("l_quantity") < 25, "small").otherwise("large").alias("qty_band")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q15_top_revenue_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                 AS total_rev
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving maximum revenue —
    scalar MAX subquery over an aggregate, joined back by exact
    DECIMAL equality (safe: both sides carry the identical exact sum;
    this would be wrong over floats)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                "decimal(28,6)"
            )
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev"))
    )


@register(
    "q16_supplier_counts_excluding_flagged",
    """
    SELECT p_brand, CAST(p_size % 5 AS INT) AS size_band,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size % 5
    """,
)
def q_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per attribute combo,
    excluding a flagged-supplier list (NOT IN → left-anti against the
    broadcast-small exclusion set; never a NOT IN over a big list,
    which null-traps and can't broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    flagged = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        anti_join(li, flagged, "l_suppkey")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", (F.col("p_size") % 5).cast("int").alias("size_band"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_dominant_part_suppliers",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sq
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), pt AS (
        SELECT l_partkey, CAST(SUM(sq) AS DOUBLE) AS tq FROM ps GROUP BY l_partkey
    )
    SELECT s_name, COUNT(*) AS n_dominated_parts
    FROM ps
    JOIN pt ON ps.l_partkey = pt.l_partkey
    JOIN supplier ON ps.l_suppkey = s_suppkey
    WHERE CAST(sq AS DOUBLE) > tq * 0.2
    GROUP BY s_name
    """,
)
def q_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers carrying an outsized share (>20%) of
    some part's total shipped quantity. Two-level aggregation where the
    second level re-aggregates the first (cheap), then joins back —
    both keyed on l_partkey, so the exchange is shared."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("sq")
    )
    pt = ps.groupBy("l_partkey").agg(F.sum("sq").cast("double").alias("tq"))
    return (
        ps.join(pt, "l_partkey")
        .where(F.col("sq").cast("double") > F.col("tq") * 0.2)
        .join(F.broadcast(supp), ps.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )


@register(
    "q2_min_acctbal_supplier_per_part",
    # TPC-H Q2 shape (correlated MIN subquery → argmin per group). The
    # testdata has no partsupp, so part↔supplier comes from distinct
    # lineitem (l_partkey, l_suppkey) and the minimized measure is
    # s_acctbal; the plan pattern — per-group min joined back to select
    # the matching row — is Q2's.
    """
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), x AS (
      SELECT l_partkey, s_suppkey, s_name, s_acctbal
      FROM ps JOIN supplier ON l_suppkey = s_suppkey
    ), m AS (
      SELECT l_partkey, min(s_acctbal) AS min_bal FROM x GROUP BY l_partkey
    )
    SELECT x.l_partkey AS p_partkey, p_name,
           min(s_suppkey) AS s_suppkey, min_bal AS s_acctbal
    FROM x JOIN m ON x.l_partkey = m.l_partkey AND x.s_acctbal = m.min_bal
    JOIN part ON x.l_partkey = p_partkey
    WHERE p_size <= 10
    GROUP BY 1, 2, 4
    """,
)
def q_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the minimum-acctbal supplier for each small
    part. The correlated subquery decorrelates to one agg + self-join
    sharing the l_partkey exchange; min(s_suppkey) makes acctbal ties
    deterministic."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    x = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    m = x.groupBy("l_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        x.join(m, "l_partkey")
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .join(F.broadcast(part), x.l_partkey == part.p_partkey)
        .groupBy(
            F.col("l_partkey").alias("p_partkey"), "p_name", F.col("min_bal").alias("s_acctbal")
        )
        .agg(F.min("s_suppkey").alias("s_suppkey"))
        .select("p_partkey", "p_name", "s_suppkey", "s_acctbal")
    )


@register(
    "q4_priority_orders_with_returns",
    # TPC-H Q4 shape (EXISTS over lineitem per order → priority
    # histogram). No l_commitdate/l_receiptdate in the testdata; the
    # EXISTS predicate is a returned line instead — the semi-join +
    # agg plan is Q4's.
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    """,
)
def q_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of 1994 orders having at
    least one returned line. EXISTS compiles to a left-semi hash join —
    lineitem is pre-filtered and projected to the join key before the
    shuffle."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1994-01-01") & (F.col("o_orderdate") < "1995-01-01")
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q22_idle_rich_customers",
    # TPC-H Q22 shape: scalar AVG subquery + NOT EXISTS anti-join.
    # Grouping is by nation (no phone column for country codes).
    """
    SELECT c_nationkey, count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
      )
    GROUP BY c_nationkey
    """,
)
def q_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    orders, summarized per nation. The scalar avg broadcasts (1 row);
    NOT EXISTS is a left-anti join on o_custkey."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(28,4)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "first_last_orders_per_month",
    """
    SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY year(o_orderdate), month(o_orderdate)
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame navigation functions (first/last/nth_value) with the
    FULL-partition frame — last_value over the default frame is the
    classic silent bug (it returns the CURRENT row); the explicit
    unbounded-both frame plus a total order makes all three
    deterministic."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy(F.year("o_orderdate"), F.month("o_orderdate"))
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    ).distinct()


@register(
    "revenue_share_within_region",
    # ratio-to-report window: nation revenue over its region total;
    # decimal-exact sums, single int-free divide per row
    """
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(28,4))) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE)
             AS region_share
    FROM nat
    """,
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue share of its region via
    a window total over the (tiny) aggregated table — the window runs
    on |nations| rows, never on lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    nat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(rev).alias("rev"))
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev").cast("double") / F.sum("rev").over(w).cast("double")).alias(
            "region_share"
        ),
    )


@register(
    "ntile_customer_value_quartiles",
    # ntile is SQL-standard (equal buckets, earlier buckets take the
    # remainder) — identical in both engines given a total order
    """
    SELECT q, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_acctbal
    FROM (SELECT c_acctbal,
                 ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS q
          FROM customer)
    GROUP BY q
    """,
)
def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile binning by account balance: SQL-standard ntile(4) over
    a total order (balance desc, key tiebreak), then per-tile rollup —
    computed DISTRIBUTED via global_ntile (range-partition → local
    row_number → broadcast partition offsets), not a single-partition
    window, so every customer row never flows through one reducer.
    Tie-at-boundary rule: the c_custkey tiebreak makes the order
    total, so boundary ties split identically in both engines."""
    from mapreducewordoccurences_spark.operators.windows import global_ntile

    cust = _t(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    tiles = global_ntile(
        cust,
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        4,
        tile_col="q",
    )
    return tiles.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_customers"),
        decimal_sum("c_acctbal", 2, "sum_acctbal"),
    )


@register(
    "grouping_id_rollup_orders",
    # GROUPING() bits composed manually (g = 2*G(status) + G(priority))
    # — portable across engines, unlike native grouping_id arg orders
    """
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS lvl,
           count(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with explicit aggregation-level labels via GROUPING()
    bits — disambiguates 'real NULL key' from 'rolled-up total' rows,
    which coalesce alone cannot."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).alias("lvl"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            F.col("lvl").cast("long"),
            "n_orders",
        )
    )


@register(
    "filtered_agg_orders",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           count(*) FILTER (WHERE o_totalprice > 300000) AS n_large,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                  FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
             AS finished_revenue_dec,
           count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 300000)
             AS n_large_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_filtered_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 aggregate FILTER clause — per-group conditional
    aggregation without CASE pyramids or self-joins, including the
    FILTER + DISTINCT combination a CASE can't express cleanly. One
    scan, one shuffle; Catalyst folds every filtered aggregate into
    the same HashAggregate."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__fa_orders")
    df = spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               count(*) FILTER (WHERE o_totalprice > 300000) AS n_large,
               SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                 FILTER (WHERE o_orderstatus = 'F') AS finished_revenue_dec,
               count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 300000)
                 AS n_large_customers
        FROM __fa_orders
        GROUP BY o_orderpriority
        """
    )
    return df.withColumn(
        "finished_revenue_dec", F.col("finished_revenue_dec").cast("double")
    )


@register(
    "order_fulfillment_lag_stats",
    """
    WITH lags AS (
      SELECT o.o_orderpriority,
             (epoch_us(min(l.l_shipdate)) - epoch_us(o.o_orderdate))
               // 86400000000 AS first_ship_lag_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           quantile_disc(first_ship_lag_days, 0.5) AS median_lag_days,
           quantile_disc(first_ship_lag_days, 0.9) AS p90_lag_days,
           min(first_ship_lag_days) AS min_lag_days,
           max(first_ship_lag_days) AS max_lag_days
    FROM lags GROUP BY o_orderpriority
    """,
)
def q_order_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment latency: days from order to FIRST shipment, exact
    percentiles per priority class — the accumulating-snapshot fact
    pattern (process-stage durations) every operations warehouse
    maintains. The order↔lineitem join and the per-order min share
    the orderkey shuffle; integer day lags keep the percentiles
    bit-portable."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lags = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min(ts_micros(li, "l_shipdate")).alias("__first_ship_us"))
        .select(
            "o_orderpriority",
            (
                F.col("__first_ship_us") - ts_micros(orders, "o_orderdate")
            ).alias("__diff_us"),
        )
        .select(
            "o_orderpriority",
            # Floor division to match the oracle's `//` — `div` truncates
            # toward zero, which diverges on the negative lags that dominate
            # this synthetic dataset the moment timestamps stop being
            # midnight-aligned.
            F.floor(F.col("__diff_us") / F.lit(86400000000))
            .cast("bigint")
            .alias("first_ship_lag_days"),
        )
    )
    return lags.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # percentile_disc returns DOUBLE in Spark but the discrete percentile
        # of integer days is exactly an integer; cast so the value hash is
        # representation-identical to the oracle's BIGINT quantile_disc.
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY first_ship_lag_days)"
        )
        .cast("bigint")
        .alias("median_lag_days"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY first_ship_lag_days)"
        )
        .cast("bigint")
        .alias("p90_lag_days"),
        F.min("first_ship_lag_days").alias("min_lag_days"),
        F.max("first_ship_lag_days").alias("max_lag_days"),
    )


@register(
    "rollup_share_of_parent",
    """
    WITH ro AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS balance,
             count(*) AS n_customers
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY ROLLUP (r.r_name, n.n_name)
    )
    SELECT region, nation, n_customers, balance,
           CAST(ROUND(balance / SUM(CASE WHEN nation IS NULL
                                          AND region IS NOT NULL
                                         THEN balance END)
                                  OVER (PARTITION BY region), 6) AS DOUBLE)
             AS share_of_region,
           CAST(ROUND(balance / SUM(CASE WHEN region IS NULL THEN balance END)
                                  OVER (), 6) AS DOUBLE) AS share_of_total
    FROM ro
    """,
)
def q_rollup_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: the region→nation ROLLUP with
    each row's share of its region subtotal and of the grand total —
    subtotals and shares from ONE grouped pass (the windows pick the
    parent rows out of the rollup output itself; no second scan, no
    self-join). The windows run over the rollup's group-bounded
    output. NULL grouping column = subtotal row, per SQL rollup
    semantics."""
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    ro = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            decimal_sum("c_acctbal", 4, "balance"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )
    region_total = F.sum(
        F.when(F.col("nation").isNull() & F.col("region").isNotNull(),
               F.col("balance"))
    ).over(Window.partitionBy("region"))
    # bounded axis: the rollup's own output (region·nation cells)
    grand_total = F.sum(
        F.when(F.col("region").isNull(), F.col("balance"))
    ).over(Window.partitionBy())
    return ro.select(
        "region",
        "nation",
        "n_customers",
        "balance",
        F.round(F.col("balance") / region_total, 6).alias("share_of_region"),
        F.round(F.col("balance") / grand_total, 6).alias("share_of_total"),
    )


@register(
    "window_rank_family_prices",
    """
    SELECT p_brand, p_partkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           nth_value(p_retailprice, 2) OVER (
             PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_cheapest_price
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
    """,
)
def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window surface in one query:
    percent_rank (relative rank in [0,1]), cume_dist (inclusive
    ECDF), and nth_value over the full-partition frame (the
    2nd-cheapest price per brand broadcast to every row). Both rank
    functions are integer-count divides — bit-portable; the ORDER BY
    carries the p_partkey tiebreak so every rank is total. One
    per-brand shuffle shared by all three functions (same WINDOW
    spec), nth_value's unbounded frame included."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return part.select(
        "p_brand",
        "p_partkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("p_retailprice", 2).over(wfull).alias("second_cheapest_price"),
    )
