"""Relational operator conformance queries (SURVEY.md §2 Part B).

The reference computes none of these natively — its only mechanism is the
user map/reduce pair (SURVEY.md §2 Part B: joins/windows/sorts are
"UDF-expressible only") — so these queries define the idiomatic surface our
engine exposes instead. Each is a declarative DataFrame pipeline: Catalyst
does pushdown/pruning and picks join strategies (broadcast for the dim
tables), AQE right-sizes shuffles at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_engine_spark.queries.base import register, t


# --------------------------------------------------------------------------
# Aggregation (partial+final hash agg — the reference's A10/A11 analogue)
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))
                    * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)      AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: multi-agg groupBy (BASELINE.md Q4 shape). "
    "Money products go through exact DECIMAL so the sum is engine-independent "
    "(double summation order differs between engines), then cast to double.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(F.expr("l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.expr(
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)"
            ).alias("sum_disc_price"),
            F.expr(
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(12,2)))"
                " * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)"
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped scan-heavy filter + scalar agg (predicate pushdown showcase)",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            F.expr("l_shipdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ '1996-01-01 00:00:00'")
            & F.col("l_discount").between(0.04, 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)"
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1997-01-01'
    """,
    doc="projection + predicate: both pushed to the parquet scan (SURVEY §2 Part B)",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_returnflag") == "R")
        & F.expr("l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        # round at the product's exact decimal precision (2-dec price × 2-dec
        # discount → 4 decimals): the rounded value sits ON the grid, never at
        # a midpoint, so Spark and the oracle agree bit-for-bit.
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
    )


@register(
    "distinct_agg",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*)                  AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="count-distinct inside groupBy (expand + two-phase agg)",
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "rollup_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="hierarchical rollup totals (absent in reference; Part B aggregations)",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
    )


@register(
    "cube_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="full cube over two dimensions",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="explicit grouping sets via SQL",
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("mre_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM mre_gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "pivot_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="pivot: rows → columns on linestatus",
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return df


# --------------------------------------------------------------------------
# Joins (absent in reference — SURVEY §2 Part B "Joins: none")
# --------------------------------------------------------------------------


@register(
    "join_customer_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(DISTINCT o.o_orderkey) AS n_orders,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_custkey, c.c_name
    """,
    doc="3-way fact join + agg. Scale shape: lineitem pre-aggregates to one "
    "row per order BEFORE any join (partial+final agg on the fact key — "
    "map-side combine shrinks the shuffle to ~|orders| rows), the distinct "
    "count collapses to count(*) over pre-agged orders (no distinct-expand "
    "pass), and both remaining inputs are order-grained so the customer "
    "rollup shuffles |orders| not |lineitem| rows. Decimal sums re-sum "
    "exactly across the two levels.",
)
def join_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.expr(
            "sum(CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (1 - CAST(l_discount AS DECIMAL(12,2))))"
        ).alias("order_revenue")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("CAST(sum(order_revenue) AS DOUBLE)").alias("revenue"),
        )
    )


@register(
    "join_region_rollup",
    oracle="""
    SELECT r.r_name, n.n_name,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="snowflake dim chain: two broadcast joins, no shuffle of the dims",
)
def join_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
    )


@register(
    "semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
    doc="left-semi join (EXISTS)",
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="left-anti join (NOT EXISTS)",
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "outer_join_counts",
    oracle="""
    SELECT o.o_orderkey, count(l.l_orderkey) AS n_items,
           round(coalesce(sum(l.l_quantity), 0), 2) AS total_qty
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
    doc="left outer join preserving empty orders (count of non-null)",
)
def outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy(o.o_orderkey)
        .agg(
            F.count(li.l_orderkey).alias("n_items"),
            F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2).alias("total_qty"),
        )
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k
# --------------------------------------------------------------------------


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="global top-k: Spark plans TakeOrderedAndProject (no full sort)",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Window functions (absent in reference — Part B)
# --------------------------------------------------------------------------


@register(
    "window_topk_per_nation",
    oracle="""
    SELECT * FROM (
      SELECT n.n_name, c.c_custkey, round(c.c_acctbal, 2) AS acctbal,
             row_number() OVER (PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey) AS rnk
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) WHERE rnk <= 3
    """,
    doc="top-k per group via ranking window",
)
def window_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_custkey", "c_acctbal")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rnk")
    )


@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           round(coalesce(lag(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0), 2) AS prev_price,
           row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    """,
    doc="running aggregate + lag with explicit frame (deterministic order)",
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias("running_total"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2).alias("prev_price"),
        F.row_number().over(w).cast("bigint").alias("order_seq"),
    )


# --------------------------------------------------------------------------
# Set operations (reference: implicit UNION ALL of input files only)
# --------------------------------------------------------------------------


@register(
    "set_union_all",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 150000
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    doc="union all (the reference's multi-file input semantics, Communicator.java:180-183)",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") > 150000).select("o_orderkey", "o_orderstatus")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_orderstatus")
    return a.unionAll(b)


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="intersect (distinct semantics)",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="except (distinct semantics)",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract == EXCEPT DISTINCT (set semantics); exceptAll is multiset minus
    return a.subtract(b)


@register(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="intersect all (multiset semantics — min of per-side multiplicities)",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersectAll(b)


@register(
    "set_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="except all (multiset semantics — multiplicity subtraction)",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.exceptAll(b)


@register(
    "approx_distinct_sketch",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_customers,
           count(*) AS n_orders,
           TRUE AS within_error
    FROM orders GROUP BY o_orderpriority
    """,
    doc="approx_count_distinct (HyperLogLog++) per group — the mergeable sketch "
    "that replaces exact count-distinct at 100 TB (no expand, fixed-size state). "
    "The HLL++ register values are engine-specific, so the conformance "
    "artifact is a deterministic verdict: Spark computes BOTH the sketch "
    "estimate and the exact count and emits within_error = |approx-exact| <= "
    "max(3, 10%*exact); the oracle recomputes the exact side and the same "
    "boolean literally (TRUE iff the sketch honours its documented bound — a "
    "broken sketch hash-mismatches the driver ledger)",
)
def approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.count("*").alias("n_orders"),
        )
    )
    bound = F.greatest(F.lit(3.0), 0.10 * F.col("exact_customers"))
    return agg.select(
        "o_orderpriority",
        "exact_customers",
        "n_orders",
        (F.abs(F.col("approx_customers") - F.col("exact_customers")) <= bound).alias(
            "within_error"
        ),
    )


@register(
    "hll_sketch_rollup",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_customers,
           count(*) AS n_orders,
           TRUE AS within_error
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT '__all__' AS o_orderpriority,
           count(DISTINCT o_custkey) AS exact_customers,
           count(*) AS n_orders,
           TRUE AS within_error
    FROM orders
    """,
    doc="DataSketches HLL: per-priority customer sketches (hll_sketch_agg) "
    "UNIONED into a grand-total estimate (hll_union_agg) in a second "
    "aggregate — the property approx_count_distinct can't give: sketches "
    "are storable/mergeable state, so daily partitions aggregate once and "
    "any rollup (week/month/all) re-aggregates the sketches, never the "
    "100 TB of raw rows. The sketch binaries are engine-specific, so the "
    "conformance artifact is a deterministic verdict: each row carries the "
    "exact distinct count plus within_error = |estimate-exact| <= "
    "max(3, 5%*exact); the oracle recomputes the exact side (including the "
    "overall distinct, which is NOT the sum of per-group distincts — "
    "customers span priorities) and the same boolean literally",
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    sketches = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.count("*").alias("n_orders"),
    )
    per_group = sketches.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").alias("approx_customers"),
        "exact_customers",
        "n_orders",
    )
    overall = (
        sketches.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"))
        .crossJoin(
            F.broadcast(
                orders.agg(
                    F.countDistinct("o_custkey").alias("exact_customers"),
                    F.count("*").alias("n_orders"),
                )
            )
        )
        .select(
            F.lit("__all__").alias("o_orderpriority"),
            "approx_customers",
            "exact_customers",
            "n_orders",
        )
    )
    unioned = per_group.unionByName(overall)
    bound = F.greatest(F.lit(3.0), 0.05 * F.col("exact_customers"))
    return unioned.select(
        "o_orderpriority",
        "exact_customers",
        "n_orders",
        (F.abs(F.col("approx_customers") - F.col("exact_customers")) <= bound).alias(
            "within_error"
        ),
    )


_KMV_K = 64


@register(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT o_orderpriority,
             ('0x' || substr(md5(o_custkey::VARCHAR), 1, 8))::BIGINT & 2147483647 AS h
      FROM orders
    ),
    ranked AS (
      SELECT o_orderpriority, h,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rk
      FROM h
    ),
    stats AS (
      SELECT o_orderpriority, count(*) AS n_hashes,
             max(CASE WHEN rk = {_KMV_K} THEN h END) AS hk
      FROM ranked GROUP BY o_orderpriority
    ),
    exact AS (
      SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_customers
      FROM orders GROUP BY o_orderpriority
    )
    SELECT s.o_orderpriority,
           CASE WHEN s.n_hashes < {_KMV_K} THEN s.n_hashes::DOUBLE
                ELSE ({_KMV_K - 1} * 2147483648)::DOUBLE / s.hk END AS kmv_estimate,
           e.exact_customers
    FROM stats s JOIN exact e USING (o_orderpriority)
    """,
    doc="KMV (k-minimum-values) distinct-count sketch, k=64, on the PORTABLE "
    "md5-prefix hash — the deterministic, engine-independent counterpart to "
    "the HLL queries, so the whole sketch (hashes, kth-minimum, estimate "
    "(k-1)*2^31/h_k) is fully oracle-checked bit-for-bit. Exact per-group "
    "distinct included for quality comparison. The rank-k selection here is "
    "a per-group window; a production 100 TB deployment replaces it with a "
    "bounded-state k-heap UDAF (KMV sketches merge by keeping the k "
    "smallest of the union), keeping state k values per group instead of "
    "sorting all hashes",
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.dedup import portable_base31

    orders = t(spark, sf_dir, "orders")
    hashed = orders.select(
        "o_orderpriority",
        portable_base31(F.col("o_custkey").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("o_orderpriority").orderBy("h")
    ranked = hashed.withColumn("rk", F.row_number().over(w))
    stats = ranked.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_hashes"),
        F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))).alias("hk"),
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    est = F.when(F.col("n_hashes") < _KMV_K, F.col("n_hashes").cast("double")).otherwise(
        F.lit(float((_KMV_K - 1) * 2147483648)) / F.col("hk")
    )
    return stats.join(exact, "o_orderpriority").select(
        "o_orderpriority", est.alias("kmv_estimate"), "exact_customers"
    )


# --------------------------------------------------------------------------
# Scalar functions (reference: "whatever Java the UDF author writes")
# --------------------------------------------------------------------------


@register(
    "scalar_string_math",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_upper,
           substring(p_name, 1, 12)                         AS name_prefix,
           concat_ws('|', p_brand, p_type)                  AS brand_type,
           length(p_name)                                   AS name_len,
           abs(p_size - 25)                                 AS size_dev,
           round(p_retailprice * 1.1, 3)                    AS marked_up,
           CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class,
           coalesce(nullif(p_brand, 'Brand#11'), 'OTHER')   AS brand_masked
    FROM part
    """,
    doc="string/math/conditional scalar function passthrough",
)
def scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.round(F.col("p_retailprice") * 1.1, 3).alias("marked_up"),
        F.when(F.col("p_size") < 10, "S").when(F.col("p_size") < 30, "M").otherwise("L").alias("size_class"),
        F.coalesce(F.nullif("p_brand", F.lit("Brand#11")), F.lit("OTHER")).alias("brand_masked"),
    )


@register(
    "scalar_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                         AS y,
           month(o_orderdate)                        AS m,
           day(o_orderdate)                          AS d,
           quarter(o_orderdate)                      AS q,
           date_trunc('month', o_orderdate)::TIMESTAMP AS month_start
    FROM orders
    """,
    doc="date/time extraction + truncation",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("d"),
        F.quarter("o_orderdate").cast("bigint").alias("q"),
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month_start"),
    )


@register(
    "salted_skew_agg",
    oracle="""
    SELECT l_suppkey,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_suppkey
    """,
    doc="skew-resistant two-level salted aggregation (operators/skew.py) — "
    "identical results to a plain groupBy, hot keys spread over n_salts reducers",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.skew import salted_agg

    li = t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_suppkey"],
        {
            "sum_qty": ("sum", "l_quantity"),
            "n": ("count", "l_orderkey"),
            "max_price": ("max", "l_extendedprice"),
        },
        n_salts=8,
    )
    return out.select(
        "l_suppkey",
        F.round("sum_qty", 2).alias("sum_qty"),
        "n",
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "salted_skew_join",
    oracle="""
    SELECT s_nationkey,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
    doc="skew-resistant salted equi-join (operators/skew.py::salted_join): "
    "the fact side gets a random salt, the dim side explodes across all "
    "salts, so a hot supplier key spreads over n_salts reducers instead of "
    "one straggler task — for the regime where dim is too big to broadcast "
    "but far smaller than fact. The oracle is the PLAIN join: salting must "
    "be invisible in the result",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
    sup = t(spark, sf_dir, "supplier")
    joined = salted_join(li, sup, on=["s_suppkey"], n_salts=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "key_skew_report",
    oracle="""
    WITH g AS (SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1),
    s AS (
      SELECT count(*) AS n_keys, sum(n) AS n_rows, max(n) AS max_n,
             quantile_cont(n, 0.5) AS p50, quantile_cont(n, 0.99) AS p99
      FROM g
    )
    SELECT s.n_rows::BIGINT AS n_rows,
           s.n_keys::BIGINT AS n_keys,
           s.max_n::BIGINT AS max_group,
           round(s.p50, 4) AS p50_group,
           round(s.p99, 4) AS p99_group,
           (SELECT min(key) FROM g WHERE n = s.max_n) AS top_key,
           round(s.max_n::DOUBLE / s.n_rows, 6) AS top_share,
           round((s.max_n * s.n_keys)::DOUBLE / s.n_rows, 6) AS skew_vs_avg
    FROM s
    """,
    doc="key-distribution profiling report on the join/agg key (o_custkey): "
    "group-size percentiles, the hottest key (min id among ties — "
    "deterministic), its share of all rows, and max-group vs average-group "
    "ratio. The operational query a 100 TB deployment runs BEFORE picking a "
    "strategy — skew_vs_avg >> 1 argues for salting (salted_skew_agg/join) "
    "or AQE skew splitting; top_share bounds what one straggler task would "
    "process. One hash aggregate over the keys, a tiny all-agg rollup, and "
    "a broadcast argmax join-back; percentiles rounded at 1e-4 because "
    "linear-interpolation FP term order differs across engines",
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("n"))
    )
    stats = g.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.99)").alias("p99"),
    )
    top = (
        g.join(F.broadcast(stats.select("max_n")), F.col("n") == F.col("max_n"))
        .agg(F.min("key").alias("top_key"))
    )
    return stats.crossJoin(top).select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("max_n").cast("bigint").alias("max_group"),
        F.round("p50", 4).alias("p50_group"),
        F.round("p99", 4).alias("p99_group"),
        "top_key",
        F.round(F.col("max_n").cast("double") / F.col("n_rows"), 6).alias("top_share"),
        F.round(
            (F.col("max_n") * F.col("n_keys")).cast("double") / F.col("n_rows"), 6
        ).alias("skew_vs_avg"),
    )


@register(
    "null_safe_join",
    oracle="""
    WITH enriched AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang_key
      FROM documents
    ),
    dim AS (
      SELECT DISTINCT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang_key
      FROM documents
    )
    SELECT coalesce(e.lang_key, '<null>') AS lang_key,
           count(*) AS n_matched
    FROM enriched e JOIN dim d ON e.lang_key IS NOT DISTINCT FROM d.lang_key
    GROUP BY 1
    """,
    doc="null-safe equality join (Spark `<=>` = ANSI IS NOT DISTINCT FROM): "
    "NULL keys match each other instead of silently dropping — the corner "
    "of join semantics where engines disagree by default; standard equality "
    "would discard every 7th row here. Still plans as a hash equi-join "
    "(null-safe equality is a valid shuffle key)",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("lang")).alias("lang_key"),
    )
    dim = keyed.select("lang_key").distinct().withColumnRenamed("lang_key", "d_key")
    return (
        keyed.join(dim, keyed.lang_key.eqNullSafe(dim.d_key))
        .groupBy(F.coalesce("lang_key", F.lit("<null>")).alias("lang_key"))
        .agg(F.count("*").alias("n_matched"))
    )


@register(
    "mode_median_agg",
    oracle="""
    SELECT l_returnflag,
           mode(l_quantity ORDER BY l_quantity)  AS mode_qty,
           round(median(l_quantity), 1) AS median_qty,
           round(median(l_extendedprice), 3) AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="exact mode and median aggregates per group (Spark 3.4+ mode/median "
    "builtins; DuckDB twins). mode ties break to the lowest value on both "
    "engines (Spark mode(deterministic=true), DuckDB ORDER BY). Exact "
    "medians need the full value multiset per group — fine for bounded "
    "group counts; the unbounded-cardinality variant is percentile_approx "
    "(approx_quantile_sketch)",
)
def mode_median_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("mode(l_quantity, true)").alias("mode_qty"),
        F.round(F.median("l_quantity"), 1).alias("median_qty"),
        F.round(F.median("l_extendedprice"), 3).alias("median_price"),
    )


@register(
    "incremental_agg_maintenance",
    oracle="""
    SELECT o_orderpriority,
           round(sum(o_totalprice), 2) AS total_price,
           count(*) AS n_orders,
           round(max(o_totalprice), 2) AS max_price,
           round(sum(o_totalprice) / count(*), 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="incremental aggregate maintenance (operators/incremental.py): "
    "history (orders < 1997) is pre-aggregated to per-key STATE, the new "
    "batch (>= 1997) aggregates separately, and the two states merge with "
    "one key-wise fold — the materialized-view pattern where each day "
    "touches one partition, never the 100 TB of history. avg is DERIVED "
    "from sum/count state (never stored — not mergeable). The oracle is "
    "the one-shot aggregate over everything: incremental folding must be "
    "invisible in the result. This is the reference's AddInterface merge "
    "(ReduceRunner.java:154-172) persisted as a table",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.incremental import agg_state, merge_agg_state

    orders = t(spark, sf_dir, "orders")
    aggs = {
        "total_price": ("sum", "o_totalprice"),
        "n_orders": ("count", "o_orderkey"),
        "max_price": ("max", "o_totalprice"),
    }
    cutoff = "o_orderdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'"
    base = agg_state(orders.where(F.expr(cutoff)), ["o_orderpriority"], aggs)
    delta = agg_state(orders.where(~F.expr(cutoff)), ["o_orderpriority"], aggs)
    state = merge_agg_state(base, delta, ["o_orderpriority"], aggs)
    return state.select(
        "o_orderpriority",
        F.round("total_price", 2).alias("total_price"),
        "n_orders",
        F.round("max_price", 2).alias("max_price"),
        F.round(F.col("total_price") / F.col("n_orders"), 4).alias("avg_price"),
    )


@register(
    "hinted_join_strategy",
    oracle="""
    SELECT n_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="join-strategy hint surface: MERGE hint forces a sort-merge join "
    "where Catalyst would broadcast (asserted in test_plans) — the manual "
    "override for when statistics mislead the planner (a misestimated "
    "'small' side that would OOM the broadcast at 100 TB). The hint "
    "changes the physical strategy only; the oracle proves the result is "
    "identical",
)
def hinted_join_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation").hint("merge")
    return (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "dq_audit",
    oracle="""
    SELECT 'orders' AS tbl,
           count(*) AS n_rows,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_keys,
           (count(*) - count(DISTINCT o_orderkey))::BIGINT AS dup_pk,
           sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT AS nonpositive_price,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             AS orphan_fk
    FROM orders
    """,
    doc="data-quality audit in one pass: row count, null keys, primary-key "
    "duplicates, domain violations, and referential orphans (orders whose "
    "customer is missing — an anti-join, so the check scales as one "
    "shuffle, never a per-row lookup). The gate every ingest partition "
    "runs before promotion; violations land in a quarantine table instead "
    "of failing the pipeline",
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    orphans = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).agg(F.count("*").alias("orphan_fk"))
    stats = orders.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("null_keys"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_pk"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
    )
    return (
        stats.crossJoin(F.broadcast(orphans))
        .select(
            F.lit("orders").alias("tbl"),
            "n_rows",
            "null_keys",
            "dup_pk",
            "nonpositive_price",
            "orphan_fk",
        )
    )


@register(
    "null_ordering_sort",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS k,
           row_number() OVER (ORDER BY (CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END)
                              DESC NULLS LAST, doc_id) AS rk
    FROM documents
    ORDER BY rk
    LIMIT 25
    """,
    doc="explicit null ordering (DESC NULLS LAST) in a top-k sort — the "
    "ORDER BY corner where engine defaults diverge (Spark: NULLS LAST on "
    "ASC / FIRST on DESC; ANSI leaves it implementation-defined), so "
    "portable pipelines must spell it out. The top-25 cut plans as "
    "TakeOrderedAndProject (per-partition heaps); the ranked window runs "
    "AFTER the limit, over 25 rows — never an unpartitioned window over "
    "the raw table",
)
def null_ordering_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    k = F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("n_chars"))
    top = (
        docs.select("doc_id", k.alias("k"))
        .orderBy(F.col("k").desc_nulls_last(), "doc_id")
        .limit(25)
    )
    w = Window.orderBy(F.col("k").desc_nulls_last(), "doc_id")
    return top.select(
        "doc_id", "k", F.row_number().over(w).cast("bigint").alias("rk")
    ).orderBy("rk")


@register(
    "rfm_segmentation",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*)::BIGINT AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY last_order, o_custkey)  AS r_score,
             ntile(4) OVER (ORDER BY frequency, o_custkey)   AS f_score,
             ntile(4) OVER (ORDER BY monetary, o_custkey)    AS m_score
      FROM per_cust
    )
    SELECT r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
           m_score::BIGINT AS m_score, count(*) AS n_customers
    FROM scored
    GROUP BY 1, 2, 3
    """,
    doc="RFM customer segmentation: per-customer recency/frequency/monetary "
    "aggregate, quartile scores via ntile, segment sizes. The ntile "
    "windows are global BUT run over the per-customer AGGREGATE "
    "(|customers| rows, already reduced), with deterministic custkey "
    "tiebreaks so quartile assignment is reproducible across engines and "
    "partitionings. Monetary goes through exact DECIMAL so ordering ties "
    "are engine-independent",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.expr("CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "monetary"
        ),
    )
    scored = per_cust.select(
        "o_custkey",
        F.ntile(4).over(Window.orderBy("last_order", "o_custkey")).alias("r_score"),
        F.ntile(4).over(Window.orderBy("frequency", "o_custkey")).alias("f_score"),
        F.ntile(4).over(Window.orderBy("monetary", "o_custkey")).alias("m_score"),
    )
    return scored.groupBy(
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
    ).agg(F.count("*").alias("n_customers"))


@register(
    "part_pair_cooccurrence",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    bounded AS (
      SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= 32
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN bounded bd ON bd.l_orderkey = a.l_orderkey
      GROUP BY 1, 2
    )
    SELECT p1, p2, support FROM pairs
    ORDER BY support DESC, p1, p2 LIMIT 20
    """,
    doc="market-basket co-occurrence: top-20 part pairs bought together "
    "(distinct per order, basket-size capped at 32 — the a-priori guard "
    "that keeps the per-order pair fan-out bounded; an order with B items "
    "contributes B*(B-1)/2 join rows, so one pathological 10k-item basket "
    "would otherwise emit 50M pairs). The classic MapReduce co-occurrence "
    "workload as one equi-self-join on the basket key (shuffle-co-located, "
    "never cartesian) + hash agg + TakeOrderedAndProject",
)
def part_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    bounded = items.groupBy("l_orderkey").agg(F.count("*").alias("basket")).where(
        F.col("basket") <= 32
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .join(bounded.select("l_orderkey"), "l_orderkey")
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("support"))
    )
    return pairs.orderBy(F.desc("support"), "p1", "p2").limit(20)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase graph: part pairs ``(u, v)``, ``u < v``, bought
    together in at least 2 orders (``_COPURCHASE_EDGES_SQL``'s ``edges`` on
    the oracle side). Callers that reuse the edges checkpoint them."""
    items = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
        .select("u", "v")
    )


@register(
    "copurchase_triangles",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM edges)::BIGINT AS n_edges,
           tri.n_triangles::BIGINT AS n_triangles
    FROM tri
    """,
    doc="triangle counting on the co-purchase graph (parts bought together "
    "in >= 2 orders): the classic distributed-graph benchmark via "
    "DEGREE-ORIENTED wedge joins (operators/graph.py::triangle_count) — "
    "each edge is re-oriented toward its higher-(degree, id) endpoint, "
    "which bounds every node's out-degree at O(sqrt(m)) and therefore the "
    "join fan-out at O(m^1.5) even on power-law graphs where plain "
    "id-orientation leaves one hub doing all the work. The support>=2 "
    "edge filter is the pruning step. The oracle keeps the simple "
    "id-oriented formulation: the triangle COUNT is orientation-invariant",
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.graph import triangle_count

    edges = (
        copurchase_edges(spark, sf_dir)
        # localCheckpoint, not persist(): materializes once for the degree
        # aggregate + three-way wedge join AND is reclaimed by the
        # ContextCleaner when the DF goes out of scope — a persist() here
        # would leak a cache-manager entry per invocation for the life of
        # the session (bench runs the whole registry in one session). Same
        # policy as operators/graph.py.
        .localCheckpoint(eager=True)
    )
    tri = triangle_count(edges, "u", "v")
    return edges.agg(F.count("*").alias("n_edges")).crossJoin(tri)


@register(
    "reduce_side_join_mapreduce",
    oracle="""
    SELECT c_custkey AS key, c_name || '|' || count(o_orderkey) AS value
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
    doc="the classic reduce-side join through the map/reduce UDF compat "
    "surface — SURVEY.md §2 Part B notes the reference could express a "
    "join ONLY this way (tag + union + group, 'no shipped example does "
    "it'), so this entry closes that parity gap explicitly: customer and "
    "orders records are tagged and unioned into one line stream (the "
    "reference's directory-union input model, Communicator.java:180-183), "
    "the mapper keys every line by custkey, and the reducer pairs the one "
    "C record with its O records (left-outer: customers with no orders "
    "keep count 0). Oracle is the plain SQL LEFT JOIN — the declarative "
    "plan Catalyst would pick instead (join_customer_revenue); same "
    "result, ~10x less shuffle IO, which is exactly the argument for the "
    "DataFrame path",
)
def reduce_side_join_mapreduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark import mapreduce

    cust = t(spark, sf_dir, "customer").select(
        F.concat_ws("\t", F.lit("C"), "c_custkey", "c_name").alias("value")
    )
    orders = t(spark, sf_dir, "orders").select(
        F.concat_ws("\t", F.lit("O"), "o_custkey").alias("value")
    )
    lines = cust.unionAll(orders)

    def join_mapper(line: str):
        parts = line.split("\t")
        if parts[0] == "C":
            yield int(parts[1]), "C:" + parts[2]
        else:
            yield int(parts[1]), "O"

    def join_reducer(key: int, values: list):
        # next(..., None), not bare next(): an orders key with no customer
        # record would otherwise raise (StopIteration inside a generator →
        # RuntimeError). TPC-H guarantees referential integrity, but the
        # reducer shouldn't rely on it — dangling keys are skipped.
        name = next((v[2:] for v in values if v.startswith("C:")), None)
        if name is None:
            return
        n_orders = sum(1 for v in values if v == "O")
        yield key, f"{name}|{n_orders}"

    return mapreduce.map_reduce(
        lines,
        join_mapper,
        join_reducer,
        map_key_type="long",
        map_value_type="text",
        out_key_type="long",
        out_value_type="text",
    )


@register(
    "map_side_join_mapreduce",
    oracle="""
    SELECT n_name AS key, count(*)::VARCHAR AS value
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="the OTHER classic MapReduce join — map-side/broadcast: the small "
    "nation table rides to every mapper (Hadoop's DistributedCache idiom; "
    "here a Spark broadcast variable captured in the map closure), so each "
    "customer record is enriched during the map with NO join shuffle at "
    "all; the only shuffle is the count aggregation. The regime where the "
    "dim fits in memory — exactly when Catalyst would pick "
    "BroadcastHashJoin for the declarative plan. Oracle is that plain "
    "join+count",
)
def map_side_join_mapreduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark import mapreduce

    nation_map = {
        r.n_nationkey: r.n_name for r in t(spark, sf_dir, "nation").collect()
    }
    bc = spark.sparkContext.broadcast(nation_map)
    lines = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("string").alias("value")
    )

    def enrich_mapper(line: str):
        yield bc.value[int(line)], 1

    def count_reducer(key: str, values: list):
        yield key, str(sum(values))

    return mapreduce.map_reduce(
        lines,
        enrich_mapper,
        count_reducer,
        map_key_type="text",
        map_value_type="long",
        out_key_type="text",
        out_value_type="text",
    )


@register(
    "secondary_sort_mapreduce",
    oracle="""
    SELECT o_custkey AS key,
           string_agg(o_orderpriority, ',' ORDER BY o_orderdate, o_orderkey) AS value
    FROM orders
    GROUP BY o_custkey
    """,
    doc="the third classic MapReduce idiom — secondary sort: values must "
    "arrive at the reducer in a meaningful order (here each customer's "
    "order priorities chronologically). The reference only sorts map "
    "output BY KEY (OutputCollector.sortByKeys, MapRunner.java:83-84), so "
    "Hadoop-era code either built composite keys with a custom "
    "partitioner+comparator or sorted inside the reducer — this entry "
    "does the in-reducer sort on a (date, orderkey) sort key embedded in "
    "the value, the workaround the reference's API forces. The "
    "declarative twin is one string_agg ORDER BY / sort_array — "
    "ordered_order_history — where the shuffle itself delivers the order",
)
def secondary_sort_mapreduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark import mapreduce

    lines = t(spark, sf_dir, "orders").select(
        F.concat_ws(
            "\t",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
            "o_orderpriority",
        ).alias("value")
    )

    def tag_mapper(line: str):
        custkey, date, okey, prio = line.split("\t")
        yield int(custkey), f"{date}|{okey}|{prio}"

    def sorted_reducer(key: int, values: list):
        # in-reducer secondary sort: (date, zero-padded orderkey) prefix
        # makes plain string sort == chronological order
        ordered = sorted(values)
        yield key, ",".join(v.split("|", 2)[2] for v in ordered)

    return mapreduce.map_reduce(
        lines,
        tag_mapper,
        sorted_reducer,
        map_key_type="long",
        map_value_type="text",
        out_key_type="long",
        out_value_type="text",
    )


@register(
    "association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    bounded AS (
      SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= 32
    ),
    bi AS (
      SELECT i.l_orderkey, i.l_partkey FROM items i
      JOIN bounded bd ON bd.l_orderkey = i.l_orderkey
    ),
    n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_baskets FROM bi),
    isup AS (SELECT l_partkey, count(*)::BIGINT AS s FROM bi GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*)::BIGINT AS support
      FROM bi a JOIN bi b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, support FROM pairs
      UNION ALL
      SELECT p2, p1, support FROM pairs
    )
    SELECT r.antecedent, r.consequent, r.support,
           round(r.support * 1.0 / sa.s, 6) AS confidence,
           round((r.support * 1.0 / sa.s) * n.n_baskets / sc.s, 6) AS lift
    FROM rules r
    JOIN isup sa ON sa.l_partkey = r.antecedent
    JOIN isup sc ON sc.l_partkey = r.consequent, n
    """,
    doc="association rules over order baskets (support >= 3, both "
    "directions): confidence = P(consequent | antecedent), lift = "
    "confidence / P(consequent) — the rule-mining layer on top of "
    "part_pair_cooccurrence. Same a-priori posture: distinct items per "
    "basket, basket size capped at 32 so per-order pair fan-out stays "
    "bounded; the item-support table is |parts|-sized → BROADCAST on "
    "both rule ends, and the basket total rides along as a 1-row "
    "broadcast. Ratios divide exact integers (IEEE-exact), rounded at 6",
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    bounded = (
        items.groupBy("l_orderkey")
        .agg(F.count("*").alias("basket"))
        .where(F.col("basket") <= 32)
        .select("l_orderkey")
    )
    bi = items.join(bounded, "l_orderkey")
    n = bi.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_baskets"))
    isup = bi.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("s"))
    a = bi.alias("a")
    b = bi.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count("*").cast("bigint").alias("support"))
        .where(F.col("support") >= 3)
    )
    rules = pairs.select(
        F.col("p1").alias("antecedent"), F.col("p2").alias("consequent"), "support"
    ).unionByName(
        pairs.select(
            F.col("p2").alias("antecedent"), F.col("p1").alias("consequent"), "support"
        )
    )
    sa = isup.select(F.col("l_partkey").alias("antecedent"), F.col("s").alias("sa"))
    sc = isup.select(F.col("l_partkey").alias("consequent"), F.col("s").alias("sc"))
    conf = F.col("support") * 1.0 / F.col("sa")
    return (
        rules.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "support",
            F.round(conf, 6).alias("confidence"),
            F.round(conf * F.col("n_baskets") / F.col("sc"), 6).alias("lift"),
        )
    )


_KMV_SET_SQL = """
    WITH sides AS (
      SELECT DISTINCT CASE WHEN o_orderpriority LIKE '1-%' THEN 'a' ELSE 'b' END AS side,
             ('0x' || substr(md5(o_custkey::VARCHAR), 1, 8))::BIGINT & 2147483647 AS h
      FROM orders
      WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
    ),
    sk AS (
      SELECT side, h, row_number() OVER (PARTITION BY side ORDER BY h) AS rk FROM sides
    ),
    topk AS (SELECT side, h, rk FROM sk WHERE rk <= 64),
    side_stats AS (
      SELECT side, max(CASE WHEN rk = 64 THEN h END) AS hk FROM topk GROUP BY side
    ),
    u AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rk FROM (SELECT DISTINCT h FROM topk)
    ),
    uk AS (SELECT h, rk FROM u WHERE rk <= 64),
    union_stat AS (SELECT max(CASE WHEN rk = 64 THEN h END) AS hk FROM uk),
    rho AS (
      SELECT count(*)::DOUBLE / 64 AS r
      FROM uk
      WHERE h IN (SELECT h FROM topk WHERE side='a') AND h IN (SELECT h FROM topk WHERE side='b')
    ),
    exact AS (
      SELECT
        count(DISTINCT CASE WHEN o_orderpriority LIKE '1-%' THEN o_custkey END) AS exact_a,
        count(DISTINCT CASE WHEN o_orderpriority LIKE '2-%' THEN o_custkey END) AS exact_b,
        count(DISTINCT o_custkey) AS exact_union
      FROM orders
      WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
    )
    SELECT
      round((63 * 2147483648)::DOUBLE / (SELECT hk FROM side_stats WHERE side='a'), 4) AS a_est,
      round((63 * 2147483648)::DOUBLE / (SELECT hk FROM side_stats WHERE side='b'), 4) AS b_est,
      round((63 * 2147483648)::DOUBLE / (SELECT hk FROM union_stat), 4) AS union_est,
      round((SELECT r FROM rho) * (63 * 2147483648)::DOUBLE / (SELECT hk FROM union_stat), 4) AS intersect_est,
      exact_a, exact_b, exact_union,
      exact_a + exact_b - exact_union AS exact_intersect
    FROM exact
"""


@register(
    "kmv_set_ops",
    oracle=_KMV_SET_SQL,
    doc="KMV sketch SET ALGEBRA (Beyer et al., SIGMOD'07): distinct-count "
    "estimates for two sets AND their union/intersection from two k=64 "
    "sketches alone — the union sketch is the k smallest of the combined "
    "sketch hashes, and |A∩B| ≈ ρ·|A∪B| where ρ is the fraction of the "
    "union sketch present in both side sketches. The query that answers "
    "'how many users overlap between these two 100 TB partitions' by "
    "shipping 2×64 integers instead of re-scanning either side. Portable "
    "md5-prefix hashes make every intermediate (side sketches, union "
    "sketch, ρ, estimates) bit-identical in the DuckDB oracle; exact "
    "counts ride along for quality comparison. Per-side rank-k is a "
    "per-side window (production: bounded k-heap UDAF, see "
    "kmv_distinct_sketch); the union ranking windows over <= 2k sketch "
    "rows — driver-size data, not corpus data.",
)
def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.dedup import portable_base31

    k = 64
    orders = t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%")
    )
    sides = orders.select(
        F.when(F.col("o_orderpriority").like("1-%"), F.lit("a")).otherwise(F.lit("b")).alias("side"),
        portable_base31(F.col("o_custkey").cast("string")).alias("h"),
    ).distinct()
    wside = Window.partitionBy("side").orderBy("h")
    topk = (
        sides.withColumn("rk", F.row_number().over(wside))
        .where(F.col("rk") <= k)
        .localCheckpoint(eager=True)  # <= 2k rows; feeds 4 subtrees below
    )
    side_stats = topk.groupBy("side").agg(F.max(F.when(F.col("rk") == k, F.col("h"))).alias("hk"))
    a_hk = side_stats.where(F.col("side") == "a").select(F.col("hk").alias("a_hk"))
    b_hk = side_stats.where(F.col("side") == "b").select(F.col("hk").alias("b_hk"))
    # global window over the <= 2k distinct sketch hashes (bounded, not corpus)
    uk = (
        topk.select("h")
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy("h")))
        .where(F.col("rk") <= k)
    )
    union_hk = uk.agg(F.max(F.when(F.col("rk") == k, F.col("h"))).alias("u_hk"))
    in_both = (
        uk.join(topk.where(F.col("side") == "a").select("h"), "h", "left_semi")
        .join(topk.where(F.col("side") == "b").select("h"), "h", "left_semi")
        .agg((F.count("*").cast("double") / k).alias("rho"))
    )
    exact = orders.agg(
        F.countDistinct(
            F.when(F.col("o_orderpriority").like("1-%"), F.col("o_custkey"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("o_orderpriority").like("2-%"), F.col("o_custkey"))
        ).alias("exact_b"),
        F.countDistinct("o_custkey").alias("exact_union"),
    )
    scale = float((k - 1) * 2147483648)
    return (
        exact.crossJoin(F.broadcast(a_hk))
        .crossJoin(F.broadcast(b_hk))
        .crossJoin(F.broadcast(union_hk))
        .crossJoin(F.broadcast(in_both))
        .select(
            F.round(F.lit(scale) / F.col("a_hk"), 4).alias("a_est"),
            F.round(F.lit(scale) / F.col("b_hk"), 4).alias("b_est"),
            F.round(F.lit(scale) / F.col("u_hk"), 4).alias("union_est"),
            F.round(F.col("rho") * F.lit(scale) / F.col("u_hk"), 4).alias("intersect_est"),
            "exact_a",
            "exact_b",
            "exact_union",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union")).alias("exact_intersect"),
        )
    )


@register(
    "correlation_matrix",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           round(corr(l_quantity, l_discount), 6)            AS corr_qty_disc,
           round(corr(l_extendedprice, l_discount), 6)       AS corr_price_disc,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope_price_on_qty,
           round(regr_r2(l_extendedprice, l_quantity), 6)    AS r2_price_on_qty
    FROM lineitem
    """,
    doc="pairwise correlation/covariance/regression aggregates over the "
    "fact table's numeric measures — the one-pass profiling sweep before "
    "feature selection or anomaly modeling. Spark and DuckDB both compute "
    "these with numerically-stable one-pass updates; rounding absorbs the "
    "summation-order ulps. All six statistics come from ONE hash-aggregate "
    "pass over the scan (no per-pair re-scan), which is the only shape "
    "that survives a 100 TB fact table.",
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    return li.agg(
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.corr(q, d), 6).alias("corr_qty_disc"),
        F.round(F.corr(p, d), 6).alias("corr_price_disc"),
        F.round(F.covar_samp(q, p), 4).alias("covar_qty_price"),
        F.round(F.regr_slope(p, q), 6).alias("slope_price_on_qty"),
        F.round(F.regr_r2(p, q), 6).alias("r2_price_on_qty"),
    )


@register(
    "snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey,
             md5(concat_ws('|', o_custkey,
                 CASE WHEN o_orderkey % 13 = 0
                      THEN round(o_totalprice * 0.9, 2) ELSE o_totalprice END,
                 o_orderstatus)) AS row_hash
      FROM orders WHERE o_orderkey % 11 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             md5(concat_ws('|', o_custkey, o_totalprice, o_orderstatus)) AS row_hash
      FROM orders WHERE o_orderkey % 17 <> 0
    ),
    j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.row_hash <> n.row_hash THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change, count(*)::BIGINT AS n, min(k) AS sample_key
    FROM j GROUP BY change
    """,
    doc="snapshot diff: classify every key across two table versions as "
    "added / removed / changed / unchanged — the audit primitive behind "
    "'what did yesterday's load actually do', complementing the CDC "
    "operators (which consume a change log; this RECONSTRUCTS one from "
    "two materialized snapshots). One full-outer equi-join on the key "
    "with per-row md5 content hashes computed in the scan projection, so "
    "the shuffle carries (key, 32-byte hash), never full rows — at 100 TB "
    "that is the difference between diffing and re-shipping the table. "
    "The two versions derive deterministically from the fixture (drops "
    "simulate inserts/deletes, a price adjustment simulates updates).",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    old_price = F.when(
        F.col("o_orderkey") % 13 == 0, F.round(F.col("o_totalprice") * 0.9, 2)
    ).otherwise(F.col("o_totalprice"))
    old = orders.where(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.md5(F.concat_ws("|", F.col("o_custkey"), old_price, F.col("o_orderstatus"))).alias(
            "row_hash"
        ),
    )
    new = orders.where(F.col("o_orderkey") % 17 != 0).select(
        "o_orderkey",
        F.md5(
            F.concat_ws("|", F.col("o_custkey"), F.col("o_totalprice"), F.col("o_orderstatus"))
        ).alias("row_hash"),
    )
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer").select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("k"),
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(F.col("o.row_hash") != F.col("n.row_hash"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return j.groupBy("change").agg(
        F.count("*").alias("n"), F.min("k").alias("sample_key")
    )


from map_reduce_engine_spark.queries.base import REGISTRY as _REG  # noqa: E402


@register(
    "kmv_distinct_tree",
    # BIT-IDENTICAL to kmv_distinct_sketch by the KMV merge law (k smallest
    # of a union == k smallest overall), so it shares that query's oracle —
    # the tree is an execution-shape change, not a semantic one.
    oracle=_REG["kmv_distinct_sketch"].oracle,
    doc="the kmv_distinct_sketch estimate computed through the PRODUCTION "
    "execution shape its docstring promises: a tree of bounded partial "
    "sketches (operators/sketch.py::kmv_tree_sketch) — level 1 keeps the "
    "k smallest hashes per (group, salt) shard, level 2 merges the k "
    "smallest of the union of partials. No per-group global sort, no "
    "rank window; partial state is one shard's hashes and the merge "
    "touches fanout*k bigints per group. Same oracle as the windowed "
    "formulation because min-k is associative over set union.",
)
def kmv_distinct_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.sketch import kmv_tree_sketch

    orders = t(spark, sf_dir, "orders")
    sk = kmv_tree_sketch(orders, "o_orderpriority", "o_custkey", k=_KMV_K, fanout=8)
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    est = F.when(
        F.col("n_hashes") < _KMV_K, F.col("n_hashes").cast("double")
    ).otherwise(F.lit(float((_KMV_K - 1) * 2147483648)) / F.element_at("kmin", _KMV_K))
    return (
        sk.join(exact, "o_orderpriority")
        .select("o_orderpriority", est.alias("kmv_estimate"), "exact_customers")
    )


def _zorder_oracle() -> str:
    """Morton interleave spelled as non-overlapping bit terms (addition ==
    OR when no two terms share a bit), identical in both engines."""
    terms = " + ".join(
        f"(((xb >> {i}) & 1) * {1 << (2 * i)}) + (((yb >> {i}) & 1) * {1 << (2 * i + 1)})"
        for i in range(8)
    )
    return f"""
    WITH b AS (
      SELECT o_custkey % 256 AS xb,
             (year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE)) % 256 AS yb
      FROM orders
    ),
    z AS (SELECT xb, yb, ({terms}) AS zval FROM b)
    SELECT (zval // 1024)::BIGINT AS tile,
           count(*) AS n,
           (max(xb) - min(xb))::BIGINT AS x_span,
           (max(yb) - min(yb))::BIGINT AS y_span
    FROM z GROUP BY 1
    """


@register(
    "zorder_locality",
    oracle=_zorder_oracle(),
    doc="Z-order (Morton) layout profile over the orders table on "
    "(customer bucket, order month): io.py::morton_col interleaves the "
    "two 8-bit bucketized dimensions into a space-filling-curve key — the "
    "clustering key write_zordered range-partitions and sorts files by "
    "(the Delta/Iceberg OPTIMIZE ZORDER recipe from public expressions). "
    "Output: per 1024-cell z-tile, the row count and the tile's x/y spans "
    "— compact on BOTH dimensions, which is exactly why min/max footer "
    "stats can prune scans filtered on EITHER column. Pure JVM bit "
    "arithmetic, bit-identical in the oracle",
)
def zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.io import morton_col

    orders = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    b = orders.select(
        (F.col("o_custkey") % 256).alias("xb"),
        ((F.year(d) * 12 + F.month(d)) % 256).alias("yb"),
    )
    z = b.withColumn("zval", morton_col(F.col("xb"), F.col("yb"), bits=8))
    return (
        z.groupBy(F.shiftright(F.col("zval"), 10).cast("bigint").alias("tile"))
        .agg(
            F.count("*").alias("n"),
            (F.max("xb") - F.min("xb")).cast("bigint").alias("x_span"),
            (F.max("yb") - F.min("yb")).cast("bigint").alias("y_span"),
        )
    )


@register(
    "pareto_frontier_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part s
      WHERE s.p_retailprice <= p.p_retailprice AND s.p_size >= p.p_size
        AND (s.p_retailprice < p.p_retailprice OR s.p_size > p.p_size)
    )
    """,
    doc="Pareto frontier / skyline (operators/frontier.py): parts not "
    "dominated on (cheapest price, largest size). Two-phase distributed "
    "skyline — shuffle-free partition-local prune, then a global prune over "
    "the bounded candidate set; the oracle is the quadratic NOT EXISTS "
    "dominance formulation, structurally independent of the implementation",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.frontier import pareto_frontier_2d

    part = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    return pareto_frontier_2d(part, min_col="p_retailprice", max_col="p_size")


@register(
    "window_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
             AS price_cume
    FROM orders WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
    """,
    doc="cumulative-distribution window (cume_dist): each order's price "
    "percentile within its priority class — rounding-free because "
    "cume_dist is a ratio of exact tie-aware row counts, identical in "
    "both engines. Completes the ranking-window surface "
    "(row_number/rank/ntile/percent_rank/cume_dist)",
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("date"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.cume_dist().over(w).alias("price_cume"),
    )


@register(
    "sql_all_quantified",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice
    FROM part
    WHERE p_retailprice > ALL (
      SELECT p_retailprice FROM part WHERE p_brand = 'Brand#19' AND p_size = 2
    )
    """,
    doc="quantified ALL-subquery semantics: parts priced above EVERY "
    "Brand#19 part. Spark SQL has no ALL/ANY quantifier, so the engine "
    "rewrites it the scalable way — the subquery collapses to a 1-row "
    "max() aggregate broadcast against the scan (the decorrelation every "
    "warehouse planner performs); the oracle uses DuckDB's native ALL. "
    "Empty-subquery (vacuous truth) and NULL caveats documented in the "
    "implementation",
)
def sql_all_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    # > ALL (S): with S non-empty and NULL-free this is > max(S); an empty S
    # is vacuously true (coalesce the max to -infinity); NULLs in S would
    # make the predicate UNKNOWN — p_retailprice is NOT NULL in this schema.
    bound = part.where((F.col("p_brand") == "Brand#19") & (F.col("p_size") == 2)).agg(
        F.max("p_retailprice").alias("__bound")
    )
    return (
        part.crossJoin(F.broadcast(bound))
        .where(
            F.col("p_retailprice")
            > F.coalesce(F.col("__bound"), F.lit(float("-inf")))
        )
        .select("p_partkey", "p_brand", "p_retailprice")
    )


@register(
    "share_of_parent_rollup",
    oracle="""
    WITH n AS (
      SELECT r_name AS region, n_name AS nation,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    )
    SELECT region, nation, cents AS revenue_cents,
           CAST(10000 * cents // CAST(sum(cents) OVER (PARTITION BY region)
                AS BIGINT) AS BIGINT) AS share_bp,
           CAST(10000 * cents // CAST(sum(cents) OVER () AS BIGINT)
                AS BIGINT) AS global_share_bp
    FROM n
    """,
    doc="percent-of-parent hierarchy rollup: each nation's revenue share "
    "within its region AND of the grand total, in integer basis points "
    "over exact BIGINT cents (no float ratio can disagree). Dimensions "
    "broadcast onto the fact scan; both share windows run over the "
    "25-row nation aggregate — the drill-down ratio report at any fact "
    "size",
)
def share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    n = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    return n.select(
        "region",
        "nation",
        F.col("cents").alias("revenue_cents"),
        F.expr("10000 * cents div sum(cents) OVER (PARTITION BY region)").alias("share_bp"),
        F.expr("10000 * cents div sum(cents) OVER ()").alias("global_share_bp"),
    )


@register(
    "grouping_id_rollup",
    oracle="""
    SELECT coalesce(r_name, '(all)') AS region,
           coalesce(n_name, '(all)') AS nation,
           GROUPING(r_name)::BIGINT AS g_region,
           GROUPING(n_name)::BIGINT AS g_nation,
           count(*) AS n_customers,
           sum(CAST(round(c_acctbal * 100) AS BIGINT))::BIGINT AS acctbal_cents
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP with GROUPING() markers: the machine-readable way to tell "
    "a real '(all)' label from a subtotal row — each grouping flag is "
    "emitted per column so BI layers can pivot the lattice without "
    "string sentinels. Money as exact BIGINT cents; one pass, "
    "map-side-combinable like any rollup",
)
def grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    j = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    )
    out = j.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("bigint").alias("g_region"),
        F.grouping("n_name").cast("bigint").alias("g_nation"),
        F.count("*").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias("acctbal_cents"),
    )
    return out.select(
        F.coalesce("r_name", F.lit("(all)")).alias("region"),
        F.coalesce("n_name", F.lit("(all)")).alias("nation"),
        "g_region",
        "g_nation",
        "n_customers",
        "acctbal_cents",
    )


@register(
    "order_backlog_aging",
    oracle="""
    WITH open_o AS (
      SELECT o_orderkey, o_orderpriority, o_orderdate::DATE AS od,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus IN ('O', 'P')
    ),
    aged AS (
      SELECT o_orderpriority,
             CASE WHEN date_diff('day', od, DATE '2001-09-01') < 365 THEN '0_under_1y'
                  WHEN date_diff('day', od, DATE '2001-09-01') < 1095 THEN '1_1_to_3y'
                  ELSE '2_over_3y' END AS age_bucket,
             cents
      FROM open_o
    )
    SELECT o_orderpriority, age_bucket,
           count(*) AS n_orders, sum(cents)::BIGINT AS backlog_cents
    FROM aged GROUP BY o_orderpriority, age_bucket
    """,
    doc="open-order backlog aging: unfulfilled orders (status O/P) bucketed "
    "by age at the fixed as-of date against priority class — the classic "
    "operations aging report (receivables/backlog), pure CASE buckets over "
    "integer day diffs and exact cent sums, one aggregate pass",
)
def order_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderstatus").isin("O", "P"))
    age_days = F.datediff(F.lit("2001-09-01").cast("date"), F.col("o_orderdate").cast("date"))
    bucket = (
        F.when(age_days < 365, "0_under_1y")
        .when(age_days < 1095, "1_1_to_3y")
        .otherwise("2_over_3y")
    )
    return (
        orders.select(
            "o_orderpriority",
            bucket.alias("age_bucket"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("o_orderpriority", "age_bucket")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("backlog_cents"))
    )


@register(
    "supplier_concentration_hhi",
    oracle="""
    WITH rev AS (
      SELECT s_nationkey, l_suppkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey, l_suppkey
    ),
    tot AS (SELECT s_nationkey, sum(cents)::BIGINT AS total
            FROM rev GROUP BY s_nationkey),
    shares AS (
      SELECT r.s_nationkey,
             CAST(10000 * r.cents // t.total AS BIGINT) AS share_bp
      FROM rev r JOIN tot t USING (s_nationkey)
    )
    SELECT s_nationkey,
           count(*) AS n_suppliers,
           sum(share_bp * share_bp)::BIGINT AS hhi_bp2,
           max(share_bp) AS top_share_bp
    FROM shares GROUP BY s_nationkey
    """,
    doc="Herfindahl–Hirschman supplier-concentration index per nation: "
    "each supplier's revenue share in integer basis points, HHI as the "
    "exact BIGINT sum of squared shares (10000 bp² = monopoly) — the "
    "antitrust/supply-risk metric. Two hash aggregates plus a "
    "nation-keyed join of the 25-row totals; no floats anywhere",
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents"))
    )
    tot = rev.groupBy("s_nationkey").agg(F.sum("cents").alias("total"))
    shares = rev.join(F.broadcast(tot), "s_nationkey").select(
        "s_nationkey", F.expr("10000 * cents div total").alias("share_bp")
    )
    return shares.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("share_bp") * F.col("share_bp")).alias("hhi_bp2"),
        F.max("share_bp").alias("top_share_bp"),
    )


@register(
    "revenue_concentration_8020",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rnk,
             sum(cents) OVER (ORDER BY cents DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cents
      FROM rev
    ),
    tot AS (SELECT count(*) AS n_customers, sum(cents) AS total FROM rev)
    SELECT t.n_customers,
           min(r.rnk) AS n_for_80pct,
           10000 * min(r.rnk) // t.n_customers AS customer_share_bp
    FROM ranked r CROSS JOIN tot t
    WHERE 10 * r.cum_cents >= 8 * t.total
    GROUP BY t.n_customers
    """,
    doc="revenue concentration (the 80/20 census): the smallest top-spender "
    "set covering 80% of revenue, found by a cumulative BIGINT-cent sum "
    "over the customer aggregate (never raw orders) — the threshold test "
    "is exact integer cross-multiplication (10*cum >= 8*total), so no "
    "float share can disagree. The whale-concentration number every "
    "revenue dashboard leads with",
)
def revenue_concentration_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.rankselect import sharded_running

    orders = t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    # descending global rank + running sum with NO single-partition window:
    # shard on the NEGATED cents (div truncates toward zero, which is
    # monotone non-decreasing on the all-negative column, so shard order +
    # within-shard order still equals the global cents-DESC order)
    ranked = sharded_running(
        rev.withColumn("neg_cents", (-F.col("cents")).cast("bigint")),
        "neg_cents div 65536",
        ["neg_cents", "o_custkey"],
        ["cents"],
        rn="rnk",
    ).select("cents", "rnk", "cum_cents")
    tot = rev.agg(F.count("*").alias("n_customers"), F.sum("cents").alias("total"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .where(10 * F.col("cum_cents") >= 8 * F.col("total"))
        .groupBy("n_customers")
        .agg(
            F.min("rnk").alias("n_for_80pct"),
            F.expr("10000 * min(rnk) div n_customers").alias("customer_share_bp"),
        )
        .select("n_customers", "n_for_80pct", "customer_share_bp")
    )


@register(
    "promo_effect_did",
    oracle="""
    WITH cell AS (
      SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS treated,
             CASE WHEN l.l_shipdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END
               AS post,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
               AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    m AS (
      SELECT treated, post, count(*) AS n, sum(cents) AS s
      FROM cell GROUP BY treated, post
    )
    SELECT
      round((SELECT s::DOUBLE / n::DOUBLE FROM m WHERE treated = 1 AND post = 1)
            - (SELECT s::DOUBLE / n::DOUBLE FROM m WHERE treated = 1 AND post = 0)
            - ((SELECT s::DOUBLE / n::DOUBLE FROM m WHERE treated = 0 AND post = 1)
               - (SELECT s::DOUBLE / n::DOUBLE FROM m WHERE treated = 0 AND post = 0)),
            4) AS did_cents,
      (SELECT n FROM m WHERE treated = 1 AND post = 1) AS n_treated_post,
      (SELECT n FROM m WHERE treated = 0 AND post = 1) AS n_control_post
    """,
    doc="difference-in-differences: the promo-part revenue-per-line change "
    "across the 1998 cutover minus the same change for non-promo parts — "
    "the workhorse quasi-experimental estimator, computed from a single "
    "2x2 grid of exact BIGINT cent sums (four means, three subtractions, "
    "all deterministic). One join + one 4-row aggregate at any scale",
)
def promo_effect_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    cell = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.when(F.col("p_type").like("PROMO%"), 1).otherwise(0).alias("treated"),
        F.when(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"), 1)
        .otherwise(0)
        .alias("post"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    m = cell.groupBy("treated", "post").agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    agg = m.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1),
                     F.col("s").cast("double") / F.col("n").cast("double"))).alias("t1p1"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0),
                     F.col("s").cast("double") / F.col("n").cast("double"))).alias("t1p0"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1),
                     F.col("s").cast("double") / F.col("n").cast("double"))).alias("t0p1"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0),
                     F.col("s").cast("double") / F.col("n").cast("double"))).alias("t0p0"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("n"))).alias("n_treated_post"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("n"))).alias("n_control_post"),
    )
    return agg.select(
        F.round(
            (F.col("t1p1") - F.col("t1p0")) - (F.col("t0p1") - F.col("t0p0")), 4
        ).alias("did_cents"),
        "n_treated_post",
        "n_control_post",
    )


@register(
    "shipping_lag_histogram",
    oracle="""
    WITH lag_t AS (
      SELECT date_diff('day', o.o_orderdate::DATE, l.l_shipdate::DATE) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    b AS (SELECT lag_days // 7 AS week_bucket FROM lag_t),
    c AS (SELECT week_bucket, count(*) AS n FROM b GROUP BY week_bucket),
    tot AS (SELECT sum(n)::BIGINT AS total FROM c)
    SELECT c.week_bucket, c.n,
           CAST(10000 * c.n // t.total AS BIGINT) AS share_bp
    FROM c CROSS JOIN tot t
    """,
    doc="order-to-ship lag histogram in week buckets with integer-bp "
    "shares: the fulfillment-SLA distribution every ops dashboard tracks. "
    "Integer day diffs bucket by integer division, one join + one "
    "aggregate; the bucket table is SLA-range-sized at any volume",
)
def shipping_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    lag_t = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")).alias("lag_days")
    )
    c = lag_t.groupBy(F.expr("lag_days div 7").alias("week_bucket")).agg(
        F.count("*").alias("n")
    )
    tot = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(tot)).select(
        "week_bucket", "n", F.expr("10000 * n div total").alias("share_bp")
    )


@register(
    "ltv_cohort_curve",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             min(year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE)) AS cohort_m
      FROM orders GROUP BY o_custkey
    ),
    sz AS (SELECT cohort_m, count(*) AS cohort_size FROM fo GROUP BY cohort_m),
    contrib AS (
      SELECT f.cohort_m,
             (year(o.o_orderdate::DATE) * 12 + month(o.o_orderdate::DATE)) - f.cohort_m
               AS month_offset,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey
      GROUP BY f.cohort_m,
               (year(o.o_orderdate::DATE) * 12 + month(o.o_orderdate::DATE)) - f.cohort_m
    )
    SELECT c.cohort_m, c.month_offset, s.cohort_size,
           sum(c.cents) OVER (PARTITION BY c.cohort_m ORDER BY c.month_offset
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cents,
           sum(c.cents) OVER (PARTITION BY c.cohort_m ORDER BY c.month_offset
                              ROWS UNBOUNDED PRECEDING)::BIGINT // s.cohort_size
             AS ltv_cents_per_customer
    FROM contrib c JOIN sz s USING (cohort_m)
    WHERE c.month_offset <= 24
    """,
    doc="cohort lifetime-value curve: customers grouped by first-order "
    "month, cumulative revenue per cohort by month offset, divided "
    "through by cohort size (exact BIGINT cents, integer month "
    "arithmetic). Windows run over the (cohort x offset) aggregate — "
    "months-squared rows regardless of order volume — the LTV payback "
    "curve finance reads against acquisition cost",
)
def ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    m = F.year(F.col("o_orderdate").cast("date")) * 12 + F.month(
        F.col("o_orderdate").cast("date")
    )
    fo = orders.groupBy("o_custkey").agg(F.min(m).alias("cohort_m"))
    sz = fo.groupBy("cohort_m").agg(F.count("*").alias("cohort_size"))
    contrib = (
        orders.join(fo, "o_custkey")
        .groupBy("cohort_m", (m - F.col("cohort_m")).alias("month_offset"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    w = Window.partitionBy("cohort_m").orderBy("month_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        contrib.join(F.broadcast(sz), "cohort_m")
        .where(F.col("month_offset") <= 24)
        .select(
            "cohort_m",
            "month_offset",
            "cohort_size",
            F.sum("cents").over(w).alias("cum_cents"),
            F.expr(
                "sum(cents) OVER (PARTITION BY cohort_m ORDER BY month_offset "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) div cohort_size"
            ).alias("ltv_cents_per_customer"),
        )
    )


@register(
    "return_rate_by_brand",
    oracle="""
    WITH l AS (
      SELECT p.p_brand,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS returned,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    b AS (
      SELECT p_brand, count(*) AS n_lines,
             sum(returned)::BIGINT AS returned_lines,
             sum(CASE WHEN returned = 1 THEN cents ELSE 0 END)::BIGINT
               AS returned_cents
      FROM l GROUP BY p_brand
    )
    SELECT p_brand, n_lines, returned_lines,
           10000 * returned_lines // n_lines AS return_bp,
           returned_cents,
           row_number() OVER (ORDER BY 10000 * returned_lines // n_lines DESC,
                              p_brand) AS worst_rank
    FROM b
    """,
    doc="return-rate league table per brand: returned-line share in "
    "integer basis points with returned revenue and a worst-first "
    "ranking — the product-quality report a merchandising team reads "
    "weekly. One broadcast dim join + one aggregate; the ranking window "
    "runs over the brands-sized aggregate",
)
def return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    l = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("returned"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    b = l.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.sum("returned").cast("bigint").alias("returned_lines"),
        F.sum(F.when(F.col("returned") == 1, F.col("cents")).otherwise(0)).alias("returned_cents"),
    )
    w = Window.orderBy(
        F.expr("10000 * returned_lines div n_lines").desc(), F.col("p_brand")
    )
    return b.select(
        "p_brand",
        "n_lines",
        "returned_lines",
        F.expr("10000 * returned_lines div n_lines").alias("return_bp"),
        "returned_cents",
        F.row_number().over(w).cast("bigint").alias("worst_rank"),
    )


@register(
    "weekday_revenue_profile",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-05', o_orderdate::DATE) % 7 AS dow,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    p AS (SELECT dow, count(*) AS n_orders, sum(cents)::BIGINT AS cents
          FROM d GROUP BY dow),
    tot AS (SELECT sum(cents)::BIGINT AS total FROM p)
    SELECT p.dow, p.n_orders, p.cents AS revenue_cents,
           CAST(10000 * p.cents // t.total AS BIGINT) AS revenue_share_bp,
           (p.dow >= 5) AS is_weekend
    FROM p CROSS JOIN tot t
    """,
    doc="day-of-week revenue profile with an engine-portable weekday "
    "index: days since a known Monday (1970-01-05) mod 7 — pure integer "
    "arithmetic, immune to the engines' incompatible dayofweek/isodow "
    "conventions. Shares in integer basis points; the weekly-seasonality "
    "profile that pairs with forecast_backtest_mape's lag-7 model",
)
def weekday_revenue_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = orders.select(
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-05").cast("date")) % 7
        ).alias("dow"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    p = d.groupBy("dow").agg(F.count("*").alias("n_orders"), F.sum("cents").alias("cents"))
    tot = p.agg(F.sum("cents").alias("total"))
    return p.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_orders",
        F.col("cents").alias("revenue_cents"),
        F.expr("10000 * cents div total").alias("revenue_share_bp"),
        (F.col("dow") >= 5).alias("is_weekend"),
    )


@register(
    "reorder_cadence_by_segment",
    oracle="""
    WITH g AS (
      SELECT c.c_mktsegment AS segment,
             date_diff('day',
                       lag(o.o_orderdate::DATE) OVER (PARTITION BY o.o_custkey
                                                      ORDER BY o.o_orderdate, o.o_orderkey),
                       o.o_orderdate::DATE) AS gap_days
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    r AS (
      SELECT segment, gap_days,
             row_number() OVER (PARTITION BY segment ORDER BY gap_days) AS rn,
             count(*) OVER (PARTITION BY segment) AS nn
      FROM g WHERE gap_days IS NOT NULL
    )
    SELECT segment, max(nn) AS n_gaps,
           max(CASE WHEN rn = ((nn - 1) * 50) // 100 + 1 THEN gap_days END)
             AS median_gap_days,
           max(CASE WHEN rn = ((nn - 1) * 90) // 100 + 1 THEN gap_days END)
             AS p90_gap_days
    FROM r GROUP BY segment
    """,
    doc="reorder cadence per market segment: integer day gaps between a "
    "customer's consecutive orders, summarized by DISCRETE median/p90 "
    "(exact row-picked integers — the cross-engine-safe percentile "
    "recipe). The purchase-frequency input to retention and "
    "replenishment models; one customer-keyed window + one "
    "segment-keyed window over the gap aggregate",
)
def reorder_cadence_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
        )
        .withColumn(
            "gap_days",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ),
        )
        .where(F.col("gap_days").isNotNull())
    )
    wr = Window.partitionBy("segment").orderBy("gap_days")
    r = g.withColumn("rn", F.row_number().over(wr)).withColumn(
        "nn", F.count("*").over(Window.partitionBy("segment"))
    )
    return r.groupBy("segment").agg(
        F.max("nn").alias("n_gaps"),
        F.max(
            F.when(F.col("rn") == F.expr("((nn - 1) * 50) div 100 + 1"), F.col("gap_days"))
        ).alias("median_gap_days"),
        F.max(
            F.when(F.col("rn") == F.expr("((nn - 1) * 90) div 100 + 1"), F.col("gap_days"))
        ).alias("p90_gap_days"),
    )


@register(
    "gini_coefficient_revenue",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM rev
    ),
    m AS (
      SELECT count(*) AS n, sum(cents) AS s, sum(i * cents) AS ws FROM r
    )
    SELECT n AS n_customers,
           round(2.0 * ws::DOUBLE / (n::DOUBLE * s::DOUBLE)
                 - (n::DOUBLE + 1.0) / n::DOUBLE, 6) AS gini
    FROM m
    """,
    doc="Gini coefficient of customer revenue: the rank-weighted formula "
    "G = 2*Σ(i*x_i)/(n*Σx) - (n+1)/n over ascending-sorted exact BIGINT "
    "cents — all three sums are integers, so the two final divisions are "
    "deterministic. Completes the inequality family (HHI concentration, "
    "80/20 census); the rank window runs over the customer aggregate, "
    "never raw orders",
)
def gini_coefficient_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.rankselect import sharded_running

    orders = t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    # global rank over (cents, o_custkey) with NO single-partition window:
    # value-range shards + shard-total offsets (the total_order_rank
    # machinery) — the per-customer grid grows with the customer DIMENSION,
    # so round 7 removed its bounded-domain pin by sharding the walk
    r = sharded_running(
        rev, "cents div 65536", ["cents", "o_custkey"], rn="i"
    ).select("cents", "i")
    m = r.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("ws"),
    )
    n, s, ws = (F.col(c).cast("double") for c in ("n", "s", "ws"))
    return m.select(
        F.col("n").alias("n_customers"),
        F.round(F.lit(2.0) * ws / (n * s) - (n + F.lit(1.0)) / n, 6).alias("gini"),
    )


def _bloom_oracle() -> str:
    """DuckDB twin of the portable Bloom filter (operators/bloom.py):
    identical md5-base + affine positions, identical 63-bit words, so the
    filter's bit array — and every membership verdict, including which
    keys false-positive — is reproduced exactly."""
    from map_reduce_engine_spark.operators.dedup import minhash_family

    av, bv = minhash_family(5)
    pos_list = ", ".join(
        f"(({av[i]} * base + {bv[i]}) & 2147483647) % m_bits" for i in range(5)
    )
    return f"""
    WITH keys AS (
      SELECT DISTINCT l_partkey AS key FROM lineitem
      WHERE l_shipdate < DATE '1995-03-01'
    ),
    m AS (SELECT 63 * ((10 * count(*)) // 63 + 1) AS m_bits FROM keys),
    kb AS (
      SELECT key,
             ('0x' || substr(md5(key::VARCHAR), 1, 8))::BIGINT & 2147483647
               AS base
      FROM keys
    ),
    kpos AS (
      SELECT key, unnest([{pos_list}]) AS p FROM kb, m
    ),
    words AS (
      SELECT p // 63 AS word_idx,
             bit_or(1::BIGINT << (p % 63)::INTEGER) AS word
      FROM kpos GROUP BY p // 63
    ),
    pb AS (
      SELECT p_partkey AS key,
             ('0x' || substr(md5(p_partkey::VARCHAR), 1, 8))::BIGINT
               & 2147483647 AS base
      FROM part
    ),
    ppos AS (
      SELECT key, unnest([{pos_list}]) AS p FROM pb, m
    ),
    need AS (
      SELECT key, p // 63 AS word_idx,
             bit_or(1::BIGINT << (p % 63)::INTEGER) AS need
      FROM ppos GROUP BY key, p // 63
    ),
    verdicts AS (
      SELECT n.key,
             bool_and((coalesce(w.word, 0) & n.need) = n.need) AS maybe
      FROM need n LEFT JOIN words w ON w.word_idx = n.word_idx
      GROUP BY n.key
    ),
    final AS (
      SELECT v.key, v.maybe, (k.key IS NOT NULL) AS member
      FROM verdicts v LEFT JOIN keys k ON k.key = v.key
    )
    SELECT count(*)::BIGINT AS n_probed,
           sum(CASE WHEN maybe THEN 1 ELSE 0 END)::BIGINT AS n_pass,
           sum(CASE WHEN member THEN 1 ELSE 0 END)::BIGINT AS n_true_members,
           sum(CASE WHEN maybe AND NOT member THEN 1 ELSE 0 END)::BIGINT
             AS n_false_positives,
           sum(CASE WHEN member AND NOT maybe THEN 1 ELSE 0 END)::BIGINT
             AS n_false_negatives,
           10000 * sum(CASE WHEN maybe AND NOT member THEN 1 ELSE 0 END)::BIGINT
             // (count(*) - sum(CASE WHEN member THEN 1 ELSE 0 END))::BIGINT
             AS fpr_bp,
           (10000 * sum(CASE WHEN maybe AND NOT member THEN 1 ELSE 0 END)::BIGINT
             // (count(*) - sum(CASE WHEN member THEN 1 ELSE 0 END))::BIGINT)
             <= 500 AS fpr_within_bound
    FROM final
    """


@register(
    "bloom_join_prefilter",
    oracle=_bloom_oracle(),
    doc="portable Bloom-filter join prefilter (operators/bloom.py): build "
    "a 10-bits/key, 5-probe filter over the part keys shipped before "
    "1995-03-01 (the fact-side join keys), probe EVERY part key, and "
    "audit against exact membership — zero false negatives by "
    "construction (the column proves it), false-positive rate within "
    "the designed bound (FPR ~0.94% for this sizing; verdict <= 5%). "
    "The filter is rows of (word_idx, word) BIGINTs — mergeable across "
    "shards with bit_or, probed with an equi-join + bitmask check, no "
    "UDF, no driver-side object — the semi-join pushdown pattern that "
    "skips fact scans at 100 TB. Spark's own bloom_filter_agg is not in "
    "the public registry; this one is engine-portable and therefore "
    "oracle-checkable bit-for-bit.",
)
def bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.bloom import bloom_probe, bloom_words

    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    keys = (
        li.where(F.col("l_shipdate") < F.lit("1995-03-01").cast("date"))
        .select(F.col("l_partkey").alias("key"))
        .distinct()
    )
    m = keys.agg(
        F.expr("63 * ((10 * count(*)) div 63 + 1)").alias("m_bits")
    )
    words = bloom_words(keys.crossJoin(F.broadcast(m)), "key", "m_bits", k=5)
    probes = part.select(F.col("p_partkey").alias("key")).crossJoin(F.broadcast(m))
    verdicts = bloom_probe(probes, "key", words, "m_bits", k=5)
    final = verdicts.join(
        keys.withColumn("member", F.lit(True)), "key", "left"
    ).select("maybe_member", F.coalesce("member", F.lit(False)).alias("member"))
    n_fp = F.sum(F.when(F.col("maybe_member") & ~F.col("member"), 1).otherwise(0)).cast(
        "bigint"
    )
    n_true = F.sum(F.when(F.col("member"), 1).otherwise(0)).cast("bigint")
    fpr_bp = F.expr(
        "10000 * CAST(sum(CASE WHEN maybe_member AND NOT member THEN 1 ELSE 0 END)"
        " AS BIGINT) div CAST(count(*) - sum(CASE WHEN member THEN 1 ELSE 0 END)"
        " AS BIGINT)"
    )
    return final.agg(
        F.count("*").alias("n_probed"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pass"),
        n_true.alias("n_true_members"),
        n_fp.alias("n_false_positives"),
        F.sum(F.when(F.col("member") & ~F.col("maybe_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_negatives"),
        fpr_bp.alias("fpr_bp"),
        (fpr_bp <= 500).alias("fpr_within_bound"),
    )


@register(
    "fk_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS fk_edge,
           (SELECT count(*) FROM lineitem)::BIGINT AS n_child,
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT
             AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))::BIGINT
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))::BIGINT
    UNION ALL
    SELECT 'orders->customer',
           (SELECT count(*) FROM orders)::BIGINT,
           (SELECT count(*) FROM orders o WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer)::BIGINT,
           (SELECT count(*) FROM customer c WHERE NOT EXISTS
              (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))::BIGINT
    UNION ALL
    SELECT 'nation->region',
           (SELECT count(*) FROM nation)::BIGINT,
           (SELECT count(*) FROM nation n WHERE NOT EXISTS
              (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))::BIGINT
    """,
    doc="referential-integrity audit across every foreign-key edge of the "
    "star schema in one report: per edge, child row count and orphan "
    "count (children whose parent key is missing) — each orphan check is "
    "one anti-join (left_anti, a single shuffle on the key; dimension "
    "parents broadcast), so the whole audit is six scans + six anti-joins "
    "regardless of scale. The promotion gate that catches a partial "
    "dimension load before queries silently drop fact rows on inner "
    "joins; generalizes dq_audit's single-edge check.",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for name, child, ck, parent, pk in edges:
        c = t(spark, sf_dir, child)
        p = t(spark, sf_dir, parent).select(F.col(pk).alias(ck)).distinct()
        orphans = c.select(ck).join(p, ck, "left_anti").agg(
            F.count("*").alias("n_orphans")
        )
        row = (
            c.agg(F.count("*").alias("n_child"))
            .crossJoin(F.broadcast(orphans))
            .select(
                F.lit(name).alias("fk_edge"),
                F.col("n_child").cast("bigint"),
                F.col("n_orphans").cast("bigint"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "table_snapshot_diff",
    oracle="""
    WITH v2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 97 = 0 THEN round(c_acctbal + 100.0, 2)
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 89 <> 0
      UNION ALL
      SELECT c_custkey + 10000000, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 101 = 0
    ),
    v1h AS (
      SELECT c_custkey AS key,
             md5(c_acctbal::VARCHAR || '|' || c_mktsegment) AS h
      FROM customer
    ),
    v2h AS (
      SELECT c_custkey AS key,
             md5(c_acctbal::VARCHAR || '|' || c_mktsegment) AS h
      FROM v2
    ),
    d AS (
      SELECT coalesce(a.key, b.key) AS key,
             CASE WHEN a.key IS NULL THEN 'inserted'
                  WHEN b.key IS NULL THEN 'deleted'
                  WHEN a.h <> b.h THEN 'changed' END AS change_type
      FROM v1h a FULL OUTER JOIN v2h b ON a.key = b.key
    )
    SELECT change_type, count(*)::BIGINT AS n_rows,
           min(key) AS min_key, max(key) AS max_key
    FROM d WHERE change_type IS NOT NULL
    GROUP BY change_type
    """,
    doc="snapshot reconciliation diff between two table versions (v2 is a "
    "deterministic synthetic mutation of customer: every 97th key's "
    "balance bumped, every 89th deleted, every 101st re-inserted under a "
    "new key): rows hash to md5 content fingerprints, one full outer "
    "join on the key classifies inserted / deleted / changed — the "
    "audit every CDC / backfill pipeline runs to prove replays converge. "
    "One shuffle on the key; unchanged rows (hash-equal) drop before the "
    "aggregate. The summary reports per-class counts and key ranges.",
)
def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    v2 = (
        cust.where(F.col("c_custkey") % 89 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 97 == 0, F.round(F.col("c_acctbal") + 100.0, 2)
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 101 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                "c_acctbal",
                "c_mktsegment",
            )
        )
    )

    def hashed(df):
        return df.select(
            F.col("c_custkey").alias("key"),
            F.md5(
                F.concat_ws(
                    "|", F.col("c_acctbal").cast("string"), F.col("c_mktsegment")
                )
            ).alias("h"),
        )

    a, b = hashed(cust).alias("a"), hashed(v2).alias("b")
    d = a.join(b, F.col("a.key") == F.col("b.key"), "full_outer").select(
        F.coalesce(F.col("a.key"), F.col("b.key")).alias("key"),
        F.when(F.col("a.key").isNull(), "inserted")
        .when(F.col("b.key").isNull(), "deleted")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .alias("change_type"),
    )
    return (
        d.where(F.col("change_type").isNotNull())
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("key").alias("min_key"),
            F.max("key").alias("max_key"),
        )
    )


@register(
    "null_profile_report",
    oracle="""
    SELECT 'c_name' AS col, count(*)::BIGINT AS n_rows,
           sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           count(DISTINCT c_name)::BIGINT AS n_distinct
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', count(*)::BIGINT,
           sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_mktsegment)::BIGINT
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', count(*)::BIGINT,
           sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_nationkey)::BIGINT
    FROM customer
    UNION ALL
    SELECT 'c_acctbal', count(*)::BIGINT,
           sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_acctbal)::BIGINT
    FROM customer
    """,
    doc="column-profiling report (the discovery query every catalog / "
    "data-quality tool runs on first contact with a table): per column, "
    "row count, null count, and distinct cardinality — here for four "
    "customer columns of three different types. Spark computes ALL "
    "columns in ONE aggregate pass (count(DISTINCT x) per column share "
    "the scan via expand), then unpivots to the per-column report shape; "
    "the oracle's UNION ALL per column is the semantic spec, not the "
    "plan.",
)
def null_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    cols = ["c_name", "c_mktsegment", "c_nationkey", "c_acctbal"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"null__{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"dist__{c}"))
    one = cust.agg(*aggs)
    rows = None
    for c in cols:
        r = one.select(
            F.lit(c).alias("col"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col(f"null__{c}").alias("n_null"),
            F.col(f"dist__{c}").cast("bigint").alias("n_distinct"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


@register(
    "table_checksum",
    oracle="""
    WITH h AS (
      SELECT ('0x' || substr(md5(
               c_custkey::VARCHAR || '|' || c_mktsegment || '|'
               || c_nationkey::VARCHAR), 1, 8))::BIGINT & 2147483647 AS rh
      FROM customer
    )
    SELECT count(*)::BIGINT AS n_rows,
           sum(rh)::BIGINT AS checksum_sum,
           bit_xor(rh)::BIGINT AS checksum_xor,
           min(rh)::BIGINT AS checksum_min,
           max(rh)::BIGINT AS checksum_max
    FROM h
    """,
    doc="order-independent table fingerprint: each row hashes its key "
    "columns through the portable md5-prefix (31-bit, so a billion-row "
    "SUM stays far inside BIGINT), and the table's identity is the "
    "(count, sum, xor, min, max) of row hashes — commutative aggregates, "
    "so the checksum is identical under any partitioning, row order, or "
    "engine, and shard checksums merge by the same operators. The cheap "
    "replication / migration / backfill equality check that avoids "
    "comparing rows (two tables differing in any row collide with "
    "probability ~2^-62 across sum+xor). Doubles are excluded from the "
    "hashed tuple by design: cross-engine double-to-string formatting is "
    "not portable (see table_snapshot_diff, which hashes within one "
    "engine only).",
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    rh = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("c_custkey").cast("string"),
                        F.col("c_mktsegment"),
                        F.col("c_nationkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .bitwiseAND(F.lit((1 << 31) - 1))
    )
    h = cust.select(rh.alias("rh"))
    return h.agg(
        F.count("*").alias("n_rows"),
        F.sum("rh").cast("bigint").alias("checksum_sum"),
        F.expr("bit_xor(rh)").cast("bigint").alias("checksum_xor"),
        F.min("rh").alias("checksum_min"),
        F.max("rh").alias("checksum_max"),
    )


@register(
    "numeric_correlation_matrix",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 10000) AS BIGINT) AS d,
             CAST(round(l_tax * 10000) AS BIGINT) AS tx
      FROM lineitem
    ),
    m AS (
      SELECT count(*)::BIGINT AS n,
             sum(q)::BIGINT AS sq, sum(d)::BIGINT AS sd, sum(tx)::BIGINT AS st,
             sum(q * q)::BIGINT AS sqq, sum(d * d)::BIGINT AS sdd,
             sum(tx * tx)::BIGINT AS stt,
             sum(q * d)::BIGINT AS sqd, sum(q * tx)::BIGINT AS sqt,
             sum(d * tx)::BIGINT AS sdt
      FROM b
    )
    SELECT 'quantity~discount' AS pair, n,
           round((n * sqd - sq * sd)::DOUBLE
                 / sqrt((n * sqq - sq * sq)::DOUBLE)
                 / sqrt((n * sdd - sd * sd)::DOUBLE), 6) AS corr
    FROM m
    UNION ALL
    SELECT 'quantity~tax', n,
           round((n * sqt - sq * st)::DOUBLE
                 / sqrt((n * sqq - sq * sq)::DOUBLE)
                 / sqrt((n * stt - st * st)::DOUBLE), 6)
    FROM m
    UNION ALL
    SELECT 'discount~tax', n,
           round((n * sdt - sd * st)::DOUBLE
                 / sqrt((n * sdd - sd * sd)::DOUBLE)
                 / sqrt((n * stt - st * st)::DOUBLE), 6)
    FROM m
    """,
    doc="pairwise Pearson correlation matrix over lineitem's bounded "
    "numeric columns (quantity, discount bp, tax bp) — the profiling "
    "matrix a feature-selection / data-exploration pass starts with. ALL "
    "ten sufficient moments come from ONE aggregate over one scan (never "
    "a pass per pair); the closed form runs on exact BIGINT raw moments "
    "(bounded operands: exact through ~1e7 rows at these magnitudes — "
    "beyond that, promote the moment sums to DECIMAL), floats enter only "
    "in the final sqrt ratio of identical integers. Divisions are "
    "ordered identically on both engines (two sequential sqrt divides).",
)
def numeric_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("d"),
        F.round(F.col("l_tax") * 10000).cast("bigint").alias("tx"),
    )
    m = b.agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("d").alias("sd"),
        F.sum("tx").alias("st"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("tx") * F.col("tx")).alias("stt"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("q") * F.col("tx")).alias("sqt"),
        F.sum(F.col("d") * F.col("tx")).alias("sdt"),
    )

    def corr_row(label: str, sxy: str, sx: str, sy: str, sxx: str, syy: str):
        return m.select(
            F.lit(label).alias("pair"),
            F.col("n").cast("bigint").alias("n"),
            F.round(
                (F.col("n") * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
                / F.sqrt((F.col("n") * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double"))
                / F.sqrt((F.col("n") * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")),
                6,
            ).alias("corr"),
        )

    return (
        corr_row("quantity~discount", "sqd", "sq", "sd", "sqq", "sdd")
        .unionByName(corr_row("quantity~tax", "sqt", "sq", "st", "sqq", "stt"))
        .unionByName(corr_row("discount~tax", "sdt", "sd", "st", "sdd", "stt"))
    )


@register(
    "basket_size_histogram",
    oracle="""
    WITH b AS (
      SELECT l_orderkey, count(*)::BIGINT AS n_lines FROM lineitem
      GROUP BY l_orderkey
    ),
    h AS (SELECT n_lines, count(*)::BIGINT AS n_orders FROM b GROUP BY n_lines),
    tot AS (SELECT sum(n_orders)::BIGINT AS total FROM h)
    SELECT n_lines, n_orders, 10000 * n_orders // total AS share_bp
    FROM h, tot
    """,
    doc="order basket-size distribution: line-items per order histogram "
    "with integer shares — the merchandising shape metric (fulfilment "
    "cost and bundle design both key off it). One key aggregate, one "
    "bounded histogram aggregate, one 1-row total broadcast.",
)
def basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    h = b.groupBy("n_lines").agg(F.count("*").alias("n_orders"))
    tot = h.agg(F.sum("n_orders").alias("total"))
    return h.crossJoin(F.broadcast(tot)).select(
        "n_lines",
        "n_orders",
        F.expr("10000 * n_orders div total").alias("share_bp"),
    )


@register(
    "degree_distribution_fit",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, count(*)::BIGINT AS degree FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    ),
    hist AS (SELECT degree, count(*)::BIGINT AS n_nodes FROM deg GROUP BY degree),
    pts AS (
      SELECT CAST(round(1000000.0 * ln(degree::DOUBLE)) AS BIGINT) AS x,
             CAST(round(1000000.0 * ln(n_nodes::DOUBLE)) AS BIGINT) AS y
      FROM hist WHERE degree >= 1
    ),
    m AS (
      SELECT count(*)::BIGINT AS n_points, sum(x)::BIGINT AS sx,
             sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
             sum(x * y)::BIGINT AS sxy
      FROM pts
    )
    SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
           (SELECT count(*)::BIGINT FROM edges) AS n_edges,
           (SELECT max(degree) FROM deg) AS max_degree,
           n_points,
           round((n_points::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / (n_points::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
             AS powerlaw_slope
    FROM m
    """,
    doc="degree-distribution power-law fit of the co-purchase graph (the "
    "copurchase_triangles edge set): degree histogram + log-log OLS "
    "slope in the zipf_law_fit micro-ln recipe — the graph-health "
    "fingerprint that says whether hub parts exist (steep negative slope "
    "= heavy tail), which is exactly what decides if degree-oriented "
    "triangle counting and skew salting are needed. Bounded: the "
    "histogram is max-degree-sized, the OLS runs on its points.",
)
def degree_distribution_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        copurchase_edges(spark, sf_dir)
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
    pts = hist.select(
        F.round(F.lit(1000000.0) * F.log(F.col("degree").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.round(F.lit(1000000.0) * F.log(F.col("n_nodes").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    totals = deg.agg(
        F.count("*").alias("n_nodes"), F.max("degree").alias("max_degree")
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n, sx, sy, sxx, sxy = (
        F.col(c).cast("double") for c in ("n_points", "sx", "sy", "sxx", "sxy")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        m.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("max_degree").cast("bigint").alias("max_degree"),
            F.col("n_points").cast("bigint").alias("n_points"),
            F.round(slope, 6).alias("powerlaw_slope"),
        )
    )


@register(
    "order_total_reconciliation",
    oracle="""
    WITH recomputed AS (
      SELECT l_orderkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))
                 * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS recomputed
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT CASE WHEN r.l_orderkey IS NULL THEN 1 ELSE 0 END AS missing,
             CASE WHEN r.l_orderkey IS NULL THEN 0
                  ELSE CAST(abs(CAST(o.o_totalprice AS DECIMAL(14,2)) - r.recomputed)
                            * 1000000 AS BIGINT) END AS diff_micro
      FROM orders o LEFT JOIN recomputed r ON r.l_orderkey = o.o_orderkey
    )
    SELECT count(*)::BIGINT                                              AS n_orders,
           sum(missing)::BIGINT                                          AS n_no_lineitems,
           sum(CASE WHEN missing = 0 AND diff_micro = 0 THEN 1 ELSE 0 END)::BIGINT
                                                                         AS n_exact,
           sum(CASE WHEN missing = 0 AND diff_micro <= 1000000 THEN 1 ELSE 0 END)::BIGINT
                                                                         AS n_within_dollar,
           max(diff_micro)::BIGINT                                       AS max_abs_diff_micro,
           sum(diff_micro)::BIGINT                                       AS total_abs_diff_micro
    FROM j
    """,
    doc="order-header vs line-item monetary reconciliation: recompute each "
    "order's total from its lineitems (extendedprice * (1-disc) * (1+tax), "
    "exact DECIMAL so both engines agree to the micro-dollar) and audit the "
    "booked o_totalprice against it — the classic ledger-vs-detail "
    "consistency gate a warehouse runs after every load. One shuffle to "
    "re-aggregate lineitems on the order key, one co-partitioned left join "
    "back to headers, then a single global audit row; headers with no "
    "detail rows are counted separately (missing), never silently matched. "
    "All diffs are exact integer micro-dollars (DECIMAL end-to-end, "
    "queries/base.py conventions). Absent in reference (SURVEY.md Part C).",
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    rec = li.groupBy("l_orderkey").agg(
        F.expr(
            "sum(CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (1 - CAST(l_discount AS DECIMAL(12,2)))"
            " * (1 + CAST(l_tax AS DECIMAL(12,2))))"
        ).alias("recomputed")
    )
    j = orders.join(rec, orders.o_orderkey == rec.l_orderkey, "left").select(
        F.when(F.col("l_orderkey").isNull(), 1).otherwise(0).alias("missing"),
        F.when(F.col("l_orderkey").isNull(), F.lit(0).cast("bigint"))
        .otherwise(
            F.expr(
                "CAST(abs(CAST(o_totalprice AS DECIMAL(14,2)) - recomputed)"
                " * 1000000 AS BIGINT)"
            )
        )
        .alias("diff_micro"),
    )
    return j.agg(
        F.count("*").alias("n_orders"),
        F.sum("missing").cast("bigint").alias("n_no_lineitems"),
        F.sum(F.when((F.col("missing") == 0) & (F.col("diff_micro") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(
            F.when((F.col("missing") == 0) & (F.col("diff_micro") <= 1000000), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_within_dollar"),
        F.max("diff_micro").alias("max_abs_diff_micro"),
        F.sum("diff_micro").alias("total_abs_diff_micro"),
    )


@register(
    "fd_violation_audit",
    oracle="""
    WITH g AS (
      SELECT 'o_custkey->o_orderpriority' AS fd,
             count(DISTINCT o_orderpriority) AS n_rhs, count(*) AS n_rows
      FROM orders GROUP BY o_custkey
      UNION ALL
      SELECT 'l_partkey->l_suppkey', count(DISTINCT l_suppkey), count(*)
      FROM lineitem GROUP BY l_partkey
      UNION ALL
      SELECT 'c_nationkey->c_mktsegment', count(DISTINCT c_mktsegment), count(*)
      FROM customer GROUP BY c_nationkey
    )
    SELECT fd,
           count(*)::BIGINT AS n_groups,
           sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating_groups,
           max(n_rhs)::BIGINT AS max_distinct_rhs,
           sum(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END)::BIGINT AS rows_in_violating_groups
    FROM g GROUP BY fd
    """,
    doc="functional-dependency violation audit: for each candidate FD X->Y "
    "(does the determinant X fix the dependent Y?), count the X-groups "
    "where more than one distinct Y appears, plus the rows trapped in those "
    "groups — the schema-inference / normalization audit profilers run "
    "before declaring a column derivable. Complements dq_audit (which "
    "checks nulls/dups/orphans, not dependencies). Each FD is one "
    "hash-aggregate shuffle on its determinant; the union reduces to "
    "|FDs| audit rows, so the output is bounded regardless of table size.",
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")

    def fd(df: DataFrame, name: str, lhs: str, rhs: str) -> DataFrame:
        return df.groupBy(lhs).agg(
            F.lit(name).alias("fd"),
            F.countDistinct(rhs).alias("n_rhs"),
            F.count("*").alias("n_rows"),
        ).select("fd", "n_rhs", "n_rows")

    g = (
        fd(orders, "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority")
        .unionByName(fd(li, "l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
        .unionByName(fd(cust, "c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"))
    )
    return g.groupBy("fd").agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).cast("bigint").alias(
            "n_violating_groups"
        ),
        F.max("n_rhs").cast("bigint").alias("max_distinct_rhs"),
        F.sum(F.when(F.col("n_rhs") > 1, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_in_violating_groups"),
    )


@register(
    "copurchase_recommendations",
    oracle="""
    WITH cust_parts AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    bounded AS (
      SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= 32
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*)::BIGINT AS w
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      JOIN bounded bd ON bd.l_orderkey = a.l_orderkey
      GROUP BY 1, 2
    ),
    targets AS (SELECT custkey, partkey FROM cust_parts WHERE custkey < 20),
    scored AS (
      SELECT t.custkey, p.p2 AS rec_partkey, sum(p.w)::BIGINT AS score
      FROM targets t JOIN pairs p ON p.p1 = t.partkey
      GROUP BY 1, 2
    ),
    novel AS (
      SELECT s.custkey, s.rec_partkey, s.score
      FROM scored s
      LEFT JOIN cust_parts cp
        ON cp.custkey = s.custkey AND cp.partkey = s.rec_partkey
      WHERE cp.partkey IS NULL
    ),
    ranked AS (
      SELECT custkey, rec_partkey, score,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY score DESC, rec_partkey) AS rank
      FROM novel
    )
    SELECT custkey, rec_partkey, score, rank::BIGINT AS rank
    FROM ranked WHERE rank <= 5
    """,
    doc="item-to-item collaborative-filtering recommendations: score every "
    "part by the co-purchase support of the parts a customer already "
    "bought, drop the already-owned parts (anti-join), and keep the top-5 "
    "per customer — the classic 'customers who bought X also bought Y' "
    "recommender as pure equi-joins. The pair matrix reuses the "
    "basket-size<=32 a-priori cap from part_pair_cooccurrence so per-order "
    "fan-out stays bounded; personalized scoring is an equi-join on the "
    "owned-part key followed by one hash agg per (customer, candidate); "
    "the conformance probe bounds the audience to custkey<20, but the "
    "plan shape (co-located joins, window top-k) is audience-size-free.",
)
def copurchase_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # both fact-derived partials feed multiple joins below: materialize each
    # ONCE (eager localCheckpoint, the hypertable_rollup discipline) so the
    # pair-matrix self-join and the scoring/novelty joins reuse one scan
    # instead of re-reading the fact table per branch
    cust_parts = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    items = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=True)
    bounded = (
        items.groupBy("l_orderkey").agg(F.count("*").alias("basket")).where(F.col("basket") <= 32)
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .join(bounded.select("l_orderkey"), "l_orderkey")
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count("*").alias("w"))
    )
    targets = cust_parts.where(F.col("custkey") < 20)
    scored = (
        targets.join(pairs, targets.partkey == pairs.p1)
        .groupBy("custkey", F.col("p2").alias("rec_partkey"))
        .agg(F.sum("w").alias("score"))
    )
    novel = scored.join(
        cust_parts.withColumnRenamed("partkey", "rec_partkey"),
        ["custkey", "rec_partkey"],
        "left_anti",
    )
    w = Window.partitionBy("custkey").orderBy(F.desc("score"), F.asc("rec_partkey"))
    return (
        novel.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .select("custkey", "rec_partkey", "score", "rank")
    )


def _k_core_oracle(k: int = 3, rounds: int = 8) -> str:
    """DuckDB twin of the bounded-round k-core peel (operators/graph.py::k_core).

    Unrolls exactly ``rounds`` peel steps as MATERIALIZED CTEs (the
    bpe_train_merges template — DuckDB's default CTE inlining would expand
    the round chain exponentially). The Spark loop breaks early at the
    fixpoint, and peeling past a fixpoint is a no-op, so a fixed unrolling
    computes the identical survivor set.
    """
    parts = [
        """items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e0 AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
      )
    ),
    d0 AS MATERIALIZED (
      SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0
    )"""
    ]
    prev = "d0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""k{r} AS MATERIALIZED (
      SELECT a FROM {prev} GROUP BY a HAVING count(*) >= {k}
    ),
    d{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM {prev} e
      JOIN k{r} x ON x.a = e.a
      JOIN k{r} y ON y.a = e.b
    )"""
        )
        prev = f"d{r}"
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT a AS node, count(*)::BIGINT AS core_degree
    FROM {prev} GROUP BY a
    """


@register(
    "k_core_parts",
    oracle=_k_core_oracle(k=3, rounds=8),
    doc="3-core of the co-purchase graph (parts bought together in >= 2 "
    "orders): iterative degree peeling — drop nodes with degree < 3, "
    "remove their edges, repeat to fixpoint — the standard dense-subgraph "
    "extraction for finding the stable 'frequently bought together' "
    "nucleus and pruning noise edges before community detection. "
    "operators/graph.py::k_core runs the peel as bounded-round "
    "equi-join/hash-agg passes with the shared loop discipline (doubled "
    "edge list materialized once, AQE scoped off, per-round "
    "localCheckpoint); the oracle unrolls the same peel as materialized "
    "CTE rounds, and because peeling is monotone the early-broken Spark "
    "fixpoint equals the fixed 8-round unrolling.",
)
def k_core_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.graph import k_core

    return k_core(copurchase_edges(spark, sf_dir), k=3, max_iter=8)


@register(
    "recommender_hitrate_loo",
    oracle="""
    WITH cust_parts AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    bounded AS (
      SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= 32
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*)::BIGINT AS w
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      JOIN bounded bd ON bd.l_orderkey = a.l_orderkey
      GROUP BY 1, 2
    ),
    targets AS (SELECT custkey, partkey FROM cust_parts WHERE custkey < 20),
    held AS (
      SELECT custkey, max(partkey) AS held_part
      FROM targets GROUP BY custkey HAVING count(*) >= 2
    ),
    train AS (
      SELECT t.custkey, t.partkey
      FROM targets t JOIN held h ON h.custkey = t.custkey
      WHERE t.partkey <> h.held_part
    ),
    scored AS (
      SELECT tr.custkey, p.p2 AS rec_partkey, sum(p.w)::BIGINT AS score
      FROM train tr JOIN pairs p ON p.p1 = tr.partkey
      GROUP BY 1, 2
    ),
    novel AS (
      SELECT s.custkey, s.rec_partkey, s.score
      FROM scored s
      LEFT JOIN train tr
        ON tr.custkey = s.custkey AND tr.partkey = s.rec_partkey
      WHERE tr.partkey IS NULL
    ),
    ranked AS (
      SELECT custkey, rec_partkey,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY score DESC, rec_partkey) AS rank
      FROM novel
    ),
    hits AS (
      SELECT h.custkey,
             max(CASE WHEN r.rec_partkey = h.held_part AND r.rank <= 5
                      THEN 1 ELSE 0 END) AS hit
      FROM held h LEFT JOIN ranked r ON r.custkey = h.custkey
      GROUP BY h.custkey
    )
    SELECT count(*)::BIGINT AS n_eval_users,
           sum(hit)::BIGINT AS n_hits,
           (sum(hit) * 1000000 // count(*))::BIGINT AS hitrate_ppm
    FROM hits
    """,
    doc="leave-one-out hit-rate@5 of the co-purchase recommender: hold out "
    "one owned part per probe customer (the max partkey — deterministic), "
    "re-score from the remaining owned parts, and check whether the "
    "held-out part lands in the top-5 — the offline evaluation loop that "
    "gates recommender deploys. Same bounded pair matrix and equi-join "
    "scoring as copurchase_recommendations; the held-out item stays "
    "eligible (the novelty anti-join excludes only TRAIN-owned parts). "
    "Hit rate is integer ppm so engines can't disagree on rounding.",
)
def recommender_hitrate_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # both fact-derived partials feed multiple joins below: materialize each
    # ONCE (eager localCheckpoint, the hypertable_rollup discipline) so the
    # pair-matrix self-join and the scoring/novelty joins reuse one scan
    # instead of re-reading the fact table per branch
    cust_parts = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    items = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=True)
    bounded = (
        items.groupBy("l_orderkey").agg(F.count("*").alias("basket")).where(F.col("basket") <= 32)
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .join(bounded.select("l_orderkey"), "l_orderkey")
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count("*").alias("w"))
    )
    targets = cust_parts.where(F.col("custkey") < 20)
    held = (
        targets.groupBy("custkey")
        .agg(F.max("partkey").alias("held_part"), F.count("*").alias("n_owned"))
        .where(F.col("n_owned") >= 2)
        .select("custkey", "held_part")
    )
    train = targets.join(held, "custkey").where(F.col("partkey") != F.col("held_part")).select(
        "custkey", "partkey"
    )
    scored = (
        train.join(pairs, train.partkey == pairs.p1)
        .groupBy("custkey", F.col("p2").alias("rec_partkey"))
        .agg(F.sum("w").alias("score"))
    )
    novel = scored.join(
        train.withColumnRenamed("partkey", "rec_partkey"), ["custkey", "rec_partkey"], "left_anti"
    )
    w = Window.partitionBy("custkey").orderBy(F.desc("score"), F.asc("rec_partkey"))
    ranked = novel.withColumn("rank", F.row_number().over(w))
    hits = (
        held.join(ranked, "custkey", "left")
        .groupBy("custkey", "held_part")
        .agg(
            F.max(
                F.when(
                    (F.col("rec_partkey") == F.col("held_part")) & (F.col("rank") <= 5), 1
                ).otherwise(0)
            ).alias("hit")
        )
    )
    return hits.agg(
        F.count("*").alias("n_eval_users"),
        F.sum("hit").cast("bigint").alias("n_hits"),
        F.expr("sum(hit) * 1000000 div count(*)").cast("bigint").alias("hitrate_ppm"),
    )


@register(
    "laspeyres_price_index",
    oracle="""
    WITH li AS (
      SELECT l.l_partkey, s.s_nationkey,
             CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l.l_shipdate <  TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END
               AS period,
             CAST(l.l_quantity AS BIGINT) AS qty,
             CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS rev_cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE (l.l_shipdate >= TIMESTAMP '1995-01-01'
             AND l.l_shipdate < TIMESTAMP '1996-01-01')
         OR (l.l_shipdate >= TIMESTAMP '1996-01-01'
             AND l.l_shipdate < TIMESTAMP '1997-01-01')
    ),
    per_part AS (
      SELECT s_nationkey, l_partkey,
             sum(CASE WHEN period = 0 THEN qty ELSE 0 END)::BIGINT AS q0,
             sum(CASE WHEN period = 0 THEN rev_cents ELSE 0 END)::BIGINT AS rev0,
             sum(CASE WHEN period = 1 THEN qty ELSE 0 END)::BIGINT AS q1,
             sum(CASE WHEN period = 1 THEN rev_cents ELSE 0 END)::BIGINT AS rev1
      FROM li GROUP BY s_nationkey, l_partkey
    ),
    common AS (  -- parts traded in BOTH periods within the nation
      SELECT s_nationkey,
             ((rev1 * q0) // q1) AS p1q0_cents,
             rev0                AS p0q0_cents,
             rev1                AS p1q1_cents,
             ((rev0 * q1) // q0) AS p0q1_cents
      FROM per_part WHERE q0 > 0 AND q1 > 0
    )
    SELECT n.n_name,
           count(*)::BIGINT AS n_common_parts,
           sum(c.p1q0_cents)::BIGINT AS num_cents,
           sum(c.p0q0_cents)::BIGINT AS den_cents,
           round(CAST(sum(c.p1q0_cents) AS DOUBLE) / sum(c.p0q0_cents), 6)
             AS laspeyres_index,
           round(CAST(sum(c.p1q1_cents) AS DOUBLE) / sum(c.p0q1_cents), 6)
             AS paasche_index,
           round(sqrt((CAST(sum(c.p1q0_cents) AS DOUBLE) / sum(c.p0q0_cents))
                      * (CAST(sum(c.p1q1_cents) AS DOUBLE) / sum(c.p0q1_cents))), 6)
             AS fisher_index
    FROM common c JOIN nation n ON n.n_nationkey = c.s_nationkey
    GROUP BY n.n_name
    """,
    doc="Laspeyres / Paasche / Fisher price indices per supplier nation, 1995 -> 1996: for parts "
    "traded in both years, value the base-year basket at current unit "
    "prices (p1*q0 = rev1*q0/q1 — one integer multiply-divide per part, "
    "exact truncation identical in both engines) against its base-year "
    "cost (rev0) — the standard fixed-basket inflation measure, scoped "
    "by nation. One fact scan with the two-year predicate pushed down, "
    "one (nation, part) aggregate, a |nations|-bounded rollup, and the "
    "only floating-point op is the final per-nation scalar division of "
    "two exact BIGINT sums (identical operands -> identical double).",
)
def laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    y0 = (
        F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1995-01-01 00:00:00'")
    ) & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
    y1 = (
        F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'")
    ) & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
    base = (
        li.where(y0 | y1)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .select(
            "l_partkey",
            "s_nationkey",
            F.when(y1, 1).otherwise(0).alias("period"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
                "rev_cents"
            ),
        )
    )
    per_part = base.groupBy("s_nationkey", "l_partkey").agg(
        F.sum(F.when(F.col("period") == 0, F.col("qty")).otherwise(0)).alias("q0"),
        F.sum(F.when(F.col("period") == 0, F.col("rev_cents")).otherwise(0)).alias("rev0"),
        F.sum(F.when(F.col("period") == 1, F.col("qty")).otherwise(0)).alias("q1"),
        F.sum(F.when(F.col("period") == 1, F.col("rev_cents")).otherwise(0)).alias("rev1"),
    )
    common = per_part.where((F.col("q0") > 0) & (F.col("q1") > 0)).select(
        "s_nationkey",
        F.expr("(rev1 * q0) div q1").alias("p1q0_cents"),
        F.col("rev0").alias("p0q0_cents"),
        F.col("rev1").alias("p1q1_cents"),
        F.expr("(rev0 * q1) div q0").alias("p0q1_cents"),
    )
    lasp = F.sum("p1q0_cents").cast("double") / F.sum("p0q0_cents")
    paasche = F.sum("p1q1_cents").cast("double") / F.sum("p0q1_cents")
    return (
        common.join(nat, common.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_common_parts"),
            F.sum("p1q0_cents").alias("num_cents"),
            F.sum("p0q0_cents").alias("den_cents"),
            F.round(lasp, 6).alias("laspeyres_index"),
            F.round(paasche, 6).alias("paasche_index"),
            F.round(F.sqrt(lasp * paasche), 6).alias("fisher_index"),
        )
    )


_COPURCHASE_EDGES_SQL = """
    items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS MATERIALIZED (
      SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
    )"""


@register(
    "local_clustering_coefficient",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_SQL},
    deg AS (
      SELECT a AS node, count(*)::BIGINT AS degree FROM und GROUP BY a
    ),
    tri AS (  -- id-oriented triangles, exploded to all three corners
      SELECT corner, count(*)::BIGINT AS n_triangles FROM (
        SELECT unnest([e1.u, e1.v, e2.v]) AS corner
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
      ) GROUP BY corner
    ),
    coeff AS (
      SELECT d.node, d.degree,
             coalesce(t.n_triangles, 0) AS n_triangles,
             (2 * coalesce(t.n_triangles, 0) * 1000000)
               // (d.degree * (d.degree - 1)) AS coeff_ppm
      FROM deg d LEFT JOIN tri t ON t.corner = d.node
      WHERE d.degree >= 4
    )
    SELECT node, degree, n_triangles, coeff_ppm::BIGINT AS coeff_ppm,
           rank::BIGINT AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY coeff_ppm DESC, node) AS rank
      FROM coeff
    ) WHERE rank <= 20
    """,
    doc="local clustering coefficient on the co-purchase graph: per-node "
    "triangle count over possible wedges (2T/(d(d-1)), integer ppm), "
    "top-20 most-clustered parts with degree >= 4 — the 'tight bundle' "
    "detector that a global triangle count (copurchase_triangles) hides. "
    "Triangles enumerate once via oriented equi-joins and explode to "
    "their three corners, so per-node counts cost one extra aggregate "
    "over the triangle list; at scale the enumeration swaps to the "
    "degree-oriented wedge joins of operators/graph.py::triangle_count "
    "(count per corner is orientation-invariant). Ratio and ranking are "
    "all-integer with deterministic tiebreaks.",
)
def local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        copurchase_edges(spark, sf_dir)
        .localCheckpoint(eager=True)  # feeds the 3-way join AND the degree agg
    )
    und = edges.select(F.col("u").alias("node")).unionByName(
        edges.select(F.col("v").alias("node"))
    )
    deg = und.groupBy("node").agg(F.count("*").alias("degree"))
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(
            F.explode(
                F.array(F.col("e1.u"), F.col("e1.v"), F.col("e2.v"))
            ).alias("corner")
        )
        .groupBy("corner")
        .agg(F.count("*").alias("n_triangles"))
    )
    coeff = (
        deg.join(tri, deg.node == tri.corner, "left")
        .where(F.col("degree") >= 4)
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.expr(
                "(2 * coalesce(n_triangles, 0) * 1000000) div (degree * (degree - 1))"
            ).alias("coeff_ppm"),
        )
    )
    w = Window.orderBy(F.desc("coeff_ppm"), F.asc("node"))
    return (
        coeff.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 20)
        .select("node", "degree", "n_triangles", "coeff_ppm", "rank")
    )


@register(
    "degree_assortativity",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_SQL},
    deg AS (
      SELECT a AS node, count(*)::BIGINT AS d FROM und GROUP BY a
    ),
    ep AS (  -- endpoint degree pairs over the doubled edge list
      SELECT dx.d AS x, dy.d AS y
      FROM und e JOIN deg dx ON dx.node = e.a JOIN deg dy ON dy.node = e.b
    ),
    m AS (
      SELECT count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * y)::BIGINT AS sxy,
             sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
      FROM ep
    )
    SELECT n AS n_directed_edges,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             AS assortativity
    FROM m
    """,
    doc="degree assortativity of the co-purchase graph: Pearson correlation "
    "of endpoint degrees over the doubled edge list — positive means hubs "
    "connect to hubs (resilient core), negative means hub-and-spoke "
    "(remove the hub, lose the graph); the one-number topology summary "
    "that decides whether degree-based partitioning will shard cleanly. "
    "Two hash joins decorate edges with endpoint degrees, the five "
    "moments reduce to one exact-BIGINT row, and the correlation is one "
    "scalar double expression over identical integers in both engines.",
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.graph import undirected

    edges = (
        copurchase_edges(spark, sf_dir)
        .localCheckpoint(eager=True)  # feeds und twice (degrees + pairs)
    )
    und = undirected(edges, "u", "v")
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("d"))
    ep = (
        und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("x")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("y")), "b")
        .select("x", "y")
    )
    m = ep.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.round(
            (F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * (F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "duplicate_payment_candidates",
    oracle="""
    SELECT a.o_orderkey AS id1, b.o_orderkey AS id2,
           a.o_custkey  AS custkey,
           CAST(CAST(a.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
             AS amount_cents,
           abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                         CAST(b.o_orderdate AS DATE)))::BIGINT AS gap_days
    FROM orders a
    JOIN orders b
      ON b.o_custkey = a.o_custkey
     AND b.o_totalprice = a.o_totalprice
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                        CAST(b.o_orderdate AS DATE))) <= 7
    """,
    doc="duplicate-payment candidates: order pairs from the same customer "
    "with the identical amount within 7 days — the first-line fraud / "
    "double-charge audit every billing pipeline runs. The self-join is an "
    "EQUI-join on (customer, amount) (candidate fan-out bounded by how "
    "often one customer repeats one exact amount — tiny), with the date "
    "band as a post-join filter, never a time-range join over the fact "
    "table. Amounts compare in exact cents; gaps are integer days.",
)
def duplicate_payment_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_orderkey").alias("id1"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("amount"),
        F.to_date("o_orderdate").alias("d1"),
    )
    b = orders.select(
        F.col("o_orderkey").alias("id2"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("amount"),
        F.to_date("o_orderdate").alias("d2"),
    )
    return (
        a.join(b, ["custkey", "amount"])
        .where(F.col("id1") < F.col("id2"))
        .where(F.abs(F.datediff(F.col("d1"), F.col("d2"))) <= 7)
        .select(
            "id1",
            "id2",
            "custkey",
            F.expr("CAST(CAST(amount AS DECIMAL(14,2)) * 100 AS BIGINT)").alias(
                "amount_cents"
            ),
            F.abs(F.datediff(F.col("d1"), F.col("d2"))).cast("bigint").alias("gap_days"),
        )
    )


@register(
    "seasonal_index_monthly",
    oracle="""
    WITH m AS (
      SELECT extract(year FROM CAST(o_orderdate AS DATE))::BIGINT  AS yr,
             extract(month FROM CAST(o_orderdate AS DATE))::BIGINT AS mon,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    y AS (
      SELECT yr, sum(rev_cents)::BIGINT AS yr_cents, count(*)::BIGINT AS n_months
      FROM m GROUP BY yr
    )
    SELECT m.yr, m.mon, m.rev_cents,
           (m.rev_cents * n_months * 1000000 // y.yr_cents)::BIGINT
             AS seasonal_index_ppm
    FROM m JOIN y ON y.yr = m.yr
    WHERE y.n_months = 12
    """,
    doc="multiplicative monthly seasonal index of order revenue: each "
    "month's revenue as a ratio-to-yearly-average (rev * 12 / year_rev, "
    "integer ppm), for complete years only — the deseasonalization table "
    "a forecast divides through before fitting trend "
    "(exponential_smoothing_forecast / ols_value_trend operate on the "
    "adjusted series). Revenue sums are exact DECIMAL cents; the index "
    "is one integer multiply-divide, and the whole query reduces to a "
    "bounded (year, month) aggregate joined to its |years|-row rollup.",
)
def seasonal_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    m = orders.select(
        F.year(F.to_date("o_orderdate")).cast("bigint").alias("yr"),
        F.month(F.to_date("o_orderdate")).cast("bigint").alias("mon"),
        F.col("o_totalprice"),
    ).groupBy("yr", "mon").agg(
        F.expr("CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)").alias(
            "rev_cents"
        )
    )
    y = m.groupBy("yr").agg(
        F.sum("rev_cents").alias("yr_cents"), F.count("*").alias("n_months")
    )
    return (
        m.join(y, "yr")
        .where(F.col("n_months") == 12)
        .select(
            "yr",
            "mon",
            "rev_cents",
            F.expr("rev_cents * n_months * 1000000 div yr_cents")
            .cast("bigint")
            .alias("seasonal_index_ppm"),
        )
    )


# Shared Cramer's-rule formulas for the 2-feature closed-form regression:
# the SAME text is parsed by Spark (F.expr) and DuckDB, so every double
# multiply/add happens in the same order on both engines and the betas are
# bit-identical before rounding. Inputs n, s1..s2y, syy are DOUBLEs cast
# from EXACT integer moments.
_OLS2_DET = (
    "(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
_OLS2_B0 = (
    "(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y))"
)
_OLS2_B1 = (
    "(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
_OLS2_B2 = (
    "(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2))"
)
_OLS2_R2 = (
    f"((({_OLS2_B0} / {_OLS2_DET}) * sy + ({_OLS2_B1} / {_OLS2_DET}) * s1y"
    f" + ({_OLS2_B2} / {_OLS2_DET}) * s2y - sy * sy / n)"
    " / (syy - sy * sy / n))"
)


@register(
    "multiple_regression_order_value",
    oracle=f"""
    WITH per_order AS (
      SELECT l_orderkey,
             count(*)::BIGINT AS x1,
             sum(CAST(l_quantity AS BIGINT))::BIGINT AS x2
      FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
      SELECT p.x1, p.x2, CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
    ),
    m AS (
      SELECT count(*)::DOUBLE AS n,
             sum(x1)::DOUBLE AS s1, sum(x2)::DOUBLE AS s2,
             sum(x1 * x1)::DOUBLE AS s11, sum(x2 * x2)::DOUBLE AS s22,
             sum(x1 * x2)::DOUBLE AS s12,
             sum(y)::DOUBLE AS sy,
             sum(x1 * y)::DOUBLE AS s1y, sum(x2 * y)::DOUBLE AS s2y,
             sum(y::HUGEINT * y::HUGEINT)::DOUBLE AS syy,
             count(*)::BIGINT AS n_orders
      FROM joined
    )
    SELECT n_orders,
           round({_OLS2_B0} / {_OLS2_DET}, 4) AS beta0_cents,
           round({_OLS2_B1} / {_OLS2_DET}, 4) AS beta_items_cents,
           round({_OLS2_B2} / {_OLS2_DET}, 4) AS beta_qty_cents,
           round({_OLS2_R2}, 6) AS r_squared
    FROM m
    """,
    doc="closed-form multiple linear regression: o_totalprice (cents) ~ "
    "intercept + line-item count + total quantity, solved via the normal "
    "equations with Cramer's rule — the in-engine generalization of the "
    "single-feature ols_value_trend (no solver library, no iteration, no "
    "collect). All nine sufficient moments are EXACT integer sums folded "
    "into ONE aggregate over the per-order rollup (the 100 TB shape: one "
    "fact shuffle on the order key, then a 1-row statistic); the 3x3 "
    "solve and R-squared are a shared formula string parsed by both "
    "engines, so every double op runs in identical order and the betas "
    "match bit-for-bit before rounding. y*y accumulates in HUGEINT/"
    "DECIMAL(38) (cents squared overflows 63 bits at large scale).",
)
def multiple_regression_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("x1"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("x2"),
    )
    joined = per_order.join(
        orders, per_order.l_orderkey == orders.o_orderkey
    ).select(
        "x1",
        "x2",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    m = joined.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
        F.count("*").alias("n_orders"),
    )
    return m.select(
        "n_orders",
        F.round(F.expr(f"{_OLS2_B0} / {_OLS2_DET}"), 4).alias("beta0_cents"),
        F.round(F.expr(f"{_OLS2_B1} / {_OLS2_DET}"), 4).alias("beta_items_cents"),
        F.round(F.expr(f"{_OLS2_B2} / {_OLS2_DET}"), 4).alias("beta_qty_cents"),
        F.round(F.expr(_OLS2_R2), 6).alias("r_squared"),
    )


# Shared split-quality formula for the decision stump (parsed by both
# engines; inputs are DOUBLEs cast from exact BIGINT counts): weighted Gini
# impurity of the (quantity <= t) split, in [0, 0.5].
_STUMP_GINI = (
    "(((lt - (lp * lp + lneg * lneg) / lt)"
    " + (rt - (rp * rp + rneg * rneg) / rt)) / nt)"
)


@register(
    "decision_stump_returnflag",
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
             sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT AS neg
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT q,
             (sum(pos) OVER w)::BIGINT AS lp, (sum(neg) OVER w)::BIGINT AS lneg
      FROM g WINDOW w AS (ORDER BY q ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT sum(pos)::BIGINT AS p, sum(neg)::BIGINT AS n,
             max(q) AS qmax FROM g
    ),
    splits AS (
      SELECT c.q AS threshold, c.lp, c.lneg,
             t.p - c.lp AS rp, t.n - c.lneg AS rneg,
             c.lp + c.lneg AS nl, (t.p - c.lp) + (t.n - c.lneg) AS nr,
             t.p + t.n AS ntot
      FROM cum c, tot t WHERE c.q < t.qmax
    ),
    scored AS (
      SELECT threshold, nl AS n_left, nr AS n_right,
             (greatest(lp, lneg) + greatest(rp, rneg)) AS acc_num, ntot,
             lp::DOUBLE AS lp, lneg::DOUBLE AS lneg, rp::DOUBLE AS rp,
             rneg::DOUBLE AS rneg, nl::DOUBLE AS lt, nr::DOUBLE AS rt,
             ntot::DOUBLE AS nt,
             greatest(p, n) AS base_num
      FROM splits, tot
    ),
    ranked AS (
      SELECT threshold, n_left, n_right,
             round({_STUMP_GINI}, 6) AS gini,
             10000 * acc_num // ntot AS accuracy_bp,
             10000 * base_num // ntot AS baseline_bp,
             row_number() OVER (ORDER BY {_STUMP_GINI}, threshold) AS rk
      FROM scored
    )
    SELECT threshold, n_left, n_right, gini, accuracy_bp, baseline_bp
    FROM ranked WHERE rk = 1
    """,
    doc="1R decision stump: the best single quantity<=t split for "
    "predicting l_returnflag='R', chosen by weighted Gini impurity over "
    "every candidate threshold — the weakest useful learner, and the "
    "feature-screening primitive (a stump's gain IS the feature's "
    "univariate signal) a training pipeline runs before spending on real "
    "models. Engine-exact: class counts cumulate as BIGINTs over the "
    "bounded quantity grid (50 values — the candidate set never scales "
    "with rows), Gini is a shared formula string on exact integer inputs, "
    "accuracy/baseline are integer basis points, argmin tiebreaks on the "
    "threshold. One corpus aggregate; everything after is grid-bounded.",
)
def decision_stump_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("l_returnflag") == "R", 0).otherwise(1))
        .cast("bigint")
        .alias("neg"),
    )
    wc = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = g.select(
        "q",
        F.sum("pos").over(wc).cast("bigint").alias("lp"),
        F.sum("neg").over(wc).cast("bigint").alias("lneg"),
    )
    tot = g.agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum("neg").cast("bigint").alias("n"),
        F.max("q").alias("qmax"),
    )
    splits = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("q") < F.col("qmax"))
        .select(
            F.col("q").alias("threshold"),
            "lp",
            "lneg",
            (F.col("p") - F.col("lp")).alias("rp"),
            (F.col("n") - F.col("lneg")).alias("rneg"),
            (F.col("lp") + F.col("lneg")).alias("nl"),
            ((F.col("p") - F.col("lp")) + (F.col("n") - F.col("lneg"))).alias("nr"),
            (F.col("p") + F.col("n")).alias("ntot"),
            F.greatest("p", "n").alias("base_num"),
        )
    )
    scored = splits.select(
        "threshold",
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        (F.greatest("lp", "lneg") + F.greatest("rp", "rneg")).alias("acc_num"),
        "ntot",
        "base_num",
        F.col("lp").cast("double").alias("lp"),
        F.col("lneg").cast("double").alias("lneg"),
        F.col("rp").cast("double").alias("rp"),
        F.col("rneg").cast("double").alias("rneg"),
        F.col("nl").cast("double").alias("lt"),
        F.col("nr").cast("double").alias("rt"),
        F.col("ntot").cast("double").alias("nt"),
    )
    wr = Window.orderBy(F.expr(_STUMP_GINI), "threshold")
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            "threshold",
            "n_left",
            "n_right",
            F.round(F.expr(_STUMP_GINI), 6).alias("gini"),
            F.expr("10000 * acc_num div ntot").alias("accuracy_bp"),
            F.expr("10000 * base_num div ntot").alias("baseline_bp"),
        )
    )


# Shared tie-corrected Mann-Whitney z (inputs: exact counts as DOUBLEs:
# u2 = 2U, p, nn = class sizes, ntot, s3 = sum(t^3 - t) over tie groups).
_MWU_Z = (
    "(((u2 - p * nn) / 2.0) / sqrt((p * nn / 12.0)"
    " * ((ntot + 1.0) - s3 / (ntot * (ntot - 1.0)))))"
)


@register(
    "roc_auc_mann_whitney",
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
             sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT AS neg
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT q, pos, neg, pos + neg AS tot,
             (coalesce(sum(pos + neg) OVER (ORDER BY q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
               AS cum_before
      FROM g
    ),
    m AS (
      SELECT sum(pos)::BIGINT AS p_rows, sum(neg)::BIGINT AS n_rows,
             sum(pos * (2 * cum_before + tot + 1))::BIGINT AS r2,
             sum(tot * tot * tot - tot)::BIGINT AS s3_rows
      FROM c
    ),
    d AS (
      SELECT p_rows, n_rows,
             r2 - p_rows * (p_rows + 1) AS u2_rows, s3_rows,
             p_rows::DOUBLE AS p, n_rows::DOUBLE AS nn,
             (r2 - p_rows * (p_rows + 1))::DOUBLE AS u2,
             (p_rows + n_rows)::DOUBLE AS ntot, s3_rows::DOUBLE AS s3
      FROM m
    )
    SELECT p_rows AS n_pos, n_rows AS n_neg, u2_rows AS u_stat_x2,
           (1000000 * u2_rows) // (2 * p_rows * n_rows) AS auc_ppm,
           round({_MWU_Z}, 4) AS z
    FROM d
    """,
    doc="exact ROC AUC + Mann-Whitney U test: does l_quantity separate "
    "returned from kept line items? AUC computed rank-free of floats via "
    "the midrank identity on the bounded quantity grid (2*midrank = "
    "2*cum_before + ties + 1 — all BIGINT), so AUC lands as exact "
    "parts-per-million integer division; the tie-corrected normal "
    "approximation z is a shared formula string over the same exact "
    "integers. The threshold-free counterpart of "
    "decision_stump_returnflag's single-split view, and the standard "
    "'is this feature predictive at all?' screen. One corpus aggregate "
    "to the 50-value grid; everything after is grid-bounded.",
)
def roc_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("l_returnflag") == "R", 0).otherwise(1))
        .cast("bigint")
        .alias("neg"),
    )
    wb = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "q",
        "pos",
        "neg",
        (F.col("pos") + F.col("neg")).alias("tot"),
        F.coalesce(F.sum(F.col("pos") + F.col("neg")).over(wb), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    m = c.agg(
        F.sum("pos").cast("bigint").alias("p_rows"),
        F.sum("neg").cast("bigint").alias("n_rows"),
        F.sum(F.col("pos") * (2 * F.col("cum_before") + F.col("tot") + 1))
        .cast("bigint")
        .alias("r2"),
        F.sum(F.col("tot") * F.col("tot") * F.col("tot") - F.col("tot"))
        .cast("bigint")
        .alias("s3_rows"),
    )
    d = m.select(
        "p_rows",
        "n_rows",
        (F.col("r2") - F.col("p_rows") * (F.col("p_rows") + 1)).alias("u2_rows"),
        "s3_rows",
        F.col("p_rows").cast("double").alias("p"),
        F.col("n_rows").cast("double").alias("nn"),
        (F.col("r2") - F.col("p_rows") * (F.col("p_rows") + 1))
        .cast("double")
        .alias("u2"),
        (F.col("p_rows") + F.col("n_rows")).cast("double").alias("ntot"),
        F.col("s3_rows").cast("double").alias("s3"),
    )
    return d.select(
        F.col("p_rows").alias("n_pos"),
        F.col("n_rows").alias("n_neg"),
        F.col("u2_rows").alias("u_stat_x2"),
        F.expr("(1000000 * u2_rows) div (2 * p_rows * n_rows)").alias("auc_ppm"),
        F.round(F.expr(_MWU_Z), 4).alias("z"),
    )


@register(
    "schema_evolution_union",
    oracle="""
    SELECT * FROM (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
      UNION ALL BY NAME
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    )
    """,
    doc="schema-evolution union: an old extract (no priority column) and a "
    "new extract (priority added) combined with unionByName(allowMissing"
    "Columns=True) — Spark's by-NAME resolution fills the absent column "
    "with NULLs instead of mis-binding by position, the exact failure "
    "mode of positional UNION when a pipeline's upstream schema grows. "
    "DuckDB's UNION ALL BY NAME is the oracle twin. Pure scan+union: two "
    "pushed-down partition reads, zero shuffles, linear at any scale.",
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cutoff = "1995-01-01 00:00:00"
    old = orders.where(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp_ntz")).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    new = orders.where(
        F.col("o_orderdate") >= F.lit(cutoff).cast("timestamp_ntz")
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderpriority",
    )
    return old.unionByName(new, allowMissingColumns=True)


@register(
    "total_order_rank",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber)
                AS BIGINT) AS rank,
           cents, l_orderkey, l_linenumber
    FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                 l_orderkey, l_linenumber
          FROM lineitem)
    """,
    doc="TeraSort-shaped total-order ranking of the whole fact table "
    "(O'Malley 2008 — THE MapReduce sort benchmark, the global version "
    "of the reference's per-reducer sorted runs): every lineitem row gets "
    "its exact global rank by (price cents, key tiebreak) with NO "
    "single-task sort anywhere — value-range shards (cents div 65536, "
    "monotone by construction) rank in parallel and per-shard offsets "
    "come from the shard-total grid (operators/rankselect.py::"
    "sharded_running, the two-pass distributed scan). This is the same "
    "sampled-range-partition strategy Spark's own orderBy/RangePartitioner "
    "uses, expressed with deterministic literal split points so the "
    "result is oracle-exact. Output is data-sized by design (a rank per "
    "row); at 100x the shard fan-out widens with the cluster while the "
    "only ordered single-partition frame stays the ~160-row shard-total "
    "grid.",
)
def total_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.rankselect import sharded_running

    li = t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = sharded_running(
        li, "cents div 65536", ["cents", "l_orderkey", "l_linenumber"], rn="rank"
    )
    return ranked.select("rank", "cents", "l_orderkey", "l_linenumber")
