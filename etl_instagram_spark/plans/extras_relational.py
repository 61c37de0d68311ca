"""Relational non-gate rows. Each registers with ``@query(name,
gate=False)`` beside its body and pairs with an ``oracle(name, sql)``
mirror; tests/test_rotated_parity.py applies the driver's value-and-type
check to every one."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.queries import _t, query


oracle(
    "pivot_returnflag_status",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)


@query("pivot_returnflag_status", gate=False)
def pivot_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns per returnflag (SURVEY §2.6 —
    conditional aggregation; Catalyst rewrites pivot to CASE WHEN aggs)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
        .orderBy("l_returnflag")
    )


oracle(
    "top10_customers_by_revenue",
    """
    SELECT c_custkey, c_name,
           round(sum(o_totalprice), 2) AS revenue,
           count(*)                    AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
)


@query("top10_customers_by_revenue", gate=False)
def top10_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + global top-k (reference O2 orderBy+limit generalized;
    engages TakeOrderedAndProject instead of a full sort)."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    return (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


oracle(
    "orders_date_functions",
    """
    SELECT o_orderkey,
           year(o_orderdate)                       AS order_year,
           month(o_orderdate)                      AS order_month,
           dayofmonth(o_orderdate)                 AS order_day,
           quarter(o_orderdate)                    AS order_quarter,
           strftime(o_orderdate, '%Y-%m')          AS order_ym,
           datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoh
    FROM orders WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
)


@query("orders_date_functions", gate=False)
def orders_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time kernel (F13 analogue): extract parts, truncation, diff."""
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return od.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_ym"),
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_eoh"),
    ).orderBy("o_orderkey")


oracle(
    "segment_rollup",
    """
    SELECT c_mktsegment, c_nationkey,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS sum_acctbal
    FROM customer
    GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST
    """,
)


@query("segment_rollup", gate=False)
def segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (segment, nation): hierarchical grouping sets in one
    Expand pass."""
    cu = _t(spark, sf_dir, "customer")
    return (
        cu.rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy(
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("c_nationkey").asc_nulls_first(),
        )
    )


oracle(
    "customer_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_revenue
    FROM orders WHERE o_custkey < 50
    ORDER BY o_custkey, o_orderkey
    """,
)


@query("customer_running_revenue", gate=False)
def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window frame (running revenue per customer); the gate's
    window queries cover rank/lag/range frames but not this one."""
    od = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return od.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
    ).orderBy("o_custkey", "o_orderkey")


oracle(
    "customers_without_urgent_orders",
    """
    SELECT c_mktsegment,
           count(*)               AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)
             AS avg_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)


@query("customers_without_urgent_orders", gate=False)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (the engine's incremental-ingest gate,
    J3/J5, operators.merge.anti_join_new) aggregated by segment; the
    semi-join sibling is q4_order_priority_semijoin."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cu.join(od.select("o_custkey").distinct(), cu.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # c_acctbal is a 2dp grid column: exact DECIMAL sum so the
            # 4dp rounding can't sit on a summation-order tie
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


_PROFILE_COLS = [
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderdate", False),
    ("o_orderpriority", False),
]


@query("orders_profile", gate=False)
def _orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of orders (exact distincts for the
    parity check; production defaults to HLL)."""
    from etl_instagram_spark.operators.profiling import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "orders"),
        [c for c, _ in _PROFILE_COLS],
        exact_distinct=True,
    ).orderBy("column")


def _sql_orders_profile() -> str:
    parts = []
    for c, numeric in _PROFILE_COLS:
        mins = (
            f"round(CAST(min({c}) AS DOUBLE), 4)" if numeric else "CAST(NULL AS DOUBLE)"
        )
        maxs = (
            f"round(CAST(max({c}) AS DOUBLE), 4)" if numeric else "CAST(NULL AS DOUBLE)"
        )
        avgs = (
            f"round(avg(CAST({c} AS DOUBLE)), 4)" if numeric else "CAST(NULL AS DOUBLE)"
        )
        parts.append(
            f"""SELECT '{c}' AS "column", count(*) AS n_rows,
                count(*) - count({c}) AS n_nulls,
                count(DISTINCT {c}) AS n_distinct,
                {mins} AS min_d, {maxs} AS max_d, {avgs} AS avg_d
                FROM orders"""
        )
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


oracle("orders_profile", _sql_orders_profile())


oracle(
    "customer_rank_distributions",
    """
    WITH rev AS (
      SELECT o_custkey AS c_custkey, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey)
    SELECT c_custkey, revenue,
           round(percent_rank() OVER (ORDER BY revenue DESC, c_custkey), 6)
             AS pct_rank,
           round(cume_dist() OVER (ORDER BY revenue DESC, c_custkey), 6)
             AS cum_dist
    FROM rev ORDER BY c_custkey
    """,
)


@query("customer_rank_distributions", gate=False)
def _customer_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over customer revenue — the two rank
    distributions no other inventory window uses (rank/lag/ntile/frames
    are covered elsewhere)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return rev.select(
        "c_custkey",
        "revenue",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    ).orderBy("c_custkey")


# the threshold derives from an exact DECIMAL sum (o_totalprice is a 2dp
# grid column): a float avg's summation-order ulps could otherwise flip
# the comparison for an order priced exactly at 1.5x the mean
_SQL_ABOVE_CUST_AVG = """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT 1.5 * (CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                        / count(*))
                          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    ORDER BY o_orderkey
    """


@query("orders_above_customer_avg", gate=False)
def _orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (each order against its own customer's
    average) — the decorrelation surface no other inventory query
    exercises (the gate's correlated shapes are EXISTS/IN semi-joins).
    Catalyst rewrites it to an aggregate + join; the same ANSI text runs
    on both engines."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_ABOVE_CUST_AVG)


oracle("orders_above_customer_avg", _SQL_ABOVE_CUST_AVG)


@query("orders_nested_lineitems", gate=False)
def _orders_nested_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-document round trip: collect lineitems into a
    sorted array<struct>, then read it back with element_at / aggregate
    / transform, the engine's nested data model (SURVEY §1.1). One
    shuffle (the groupBy); every array op is a per-row expression."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("l_linenumber").alias("ln"), F.col("l_quantity").alias("qty"))
            )
        ).alias("items")
    )
    return nested.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        F.element_at("items", 1)["qty"].alias("first_qty"),
        F.round(
            F.aggregate("items", F.lit(0.0), lambda acc, x: acc + x["qty"]), 2
        ).alias("total_qty"),
        F.concat_ws(",", F.transform("items", lambda x: x["ln"].cast("string"))).alias(
            "line_numbers"
        ),
    ).orderBy("l_orderkey")


oracle(
    "orders_nested_lineitems",
    """
    WITH nested AS (
      SELECT l_orderkey,
             list(struct_pack(ln := l_linenumber, qty := l_quantity)
                  ORDER BY l_linenumber, l_quantity) AS items
      FROM lineitem WHERE l_orderkey <= 200 GROUP BY l_orderkey)
    SELECT l_orderkey,
           len(items) AS n_items,
           items[1].qty AS first_qty,
           round(list_sum(list_transform(items, x -> x.qty)), 2) AS total_qty,
           array_to_string(list_transform(items, x -> x.ln::VARCHAR), ',') AS line_numbers
    FROM nested ORDER BY l_orderkey
    """,
)
