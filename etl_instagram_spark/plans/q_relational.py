"""Relational-family queries: nested/windowed order analytics, scalar-function
surfaces, cube/listagg/unpivot shapes, and the full-join + rolling-
window customer views, each with its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.plans.oracle import oracle, sql_revenue_dec
from etl_instagram_spark.plans.queries import _t, query


# ---------------------------------------------------------------------------
# events: latest row per entity (the rates latest-per-entity pattern)
# ---------------------------------------------------------------------------


@query("orders_shipments_in_window")
def orders_shipments_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless point-in-interval range join: for a deterministic sample
    of orders (o_orderkey % 97 == 1), count/weigh ALL lineitem shipments
    (any order's) whose ship date falls in the 30 days from that order's
    date — the "events inside a window" primitive behind campaign
    attribution and frame⋈span alignment, with NO equi-key to save the
    join. operators/temporal.range_join turns what Catalyst would run as
    a BroadcastNestedLoopJoin into an equi-join on 30-day time buckets
    (interval side exploded to its ≤2 covered buckets, residual range
    filter after the match) — plan-shape pinned in tests. The retired
    latest-per-entity query this replaces was window-rank coverage that
    top3_orders_per_customer already exercises.

    Partial aggregation is pushed BELOW the range join: window edges are
    day-aligned (order dates and ship dates are midnight timestamps), so
    lineitem collapses to per-day partial sums first — the join input
    shrinks from one row per lineitem to one row per distinct ship DAY
    (~2.5k rows regardless of SF; at 100 TB this is the difference
    between range-joining the fact table and range-joining a calendar).

    (Replaces events_latest_per_user in the 50-query inventory.)"""
    from etl_instagram_spark.operators.temporal import range_join

    day_partials = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_shipdate")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("l_quantity").alias("__qty"),
        )
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 1)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_orderdate").alias("win_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("win_end"),
        )
    )
    return (
        range_join(
            day_partials, orders, "l_shipdate", "win_start", "win_end", bucket="30 days"
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sum("__n").alias("n_shipments"),
            F.round(F.sum("__qty"), 2).alias("sum_qty"),
        )
        .orderBy("o_orderkey")
    )


oracle(
    "orders_shipments_in_window",
    """
    SELECT o_orderkey, o_orderpriority,
           count(*) AS n_shipments,
           round(sum(l_quantity), 2) AS sum_qty
    FROM orders o
    JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 30 DAY
    WHERE o.o_orderkey % 97 = 1
    GROUP BY o_orderkey, o_orderpriority
    ORDER BY o_orderkey
    """,
)


# ---------------------------------------------------------------------------
# part: URL build + parse (F1/F10)
# ---------------------------------------------------------------------------


@query("part_url_parse", gate=False)
def part_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL origin/path/query parsing (F10, elimparcial.js:16 getImageURL
    origin logic) via parse_url — mirrored in the oracle with regexes."""
    pa = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    url = F.concat(
        F.lit("https://cdn.example/"),
        F.lower(F.regexp_replace("p_brand", r"[^A-Za-z0-9]", "")),
        F.lit("/"),
        F.regexp_replace("p_name", " ", "-"),
        F.lit("?size="),
        F.col("p_size").cast("string"),
    )
    return pa.select(
        "p_partkey",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("size")).alias("size_param"),
    ).orderBy("p_partkey")


oracle(
    "part_url_parse",
    """
    WITH u AS (
      SELECT p_partkey,
             'https://cdn.example/' || lower(regexp_replace(p_brand, '[^A-Za-z0-9]', '', 'g'))
               || '/' || regexp_replace(p_name, ' ', '-', 'g')
               || '?size=' || p_size::VARCHAR AS url
      FROM part WHERE p_partkey <= 100)
    SELECT p_partkey, url,
           regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/]+([^?]*)', 1) AS path,
           regexp_extract(url, '[?&]size=([^&]*)', 1) AS size_param
    FROM u ORDER BY p_partkey
    """,
)


# ---------------------------------------------------------------------------
# supplier: haversine geo distances (SURVEY §1.4 geo surface)
# ---------------------------------------------------------------------------


@query("supplier_geo_bands", gate=False)
def supplier_geo_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine distance bands from synthetic supplier coordinates
    (derived deterministically from the key) to a fixed origin — the geo
    predicate surface the reference's 2dsphere index implies. All trig is
    codegen'd column math; the oracle mirrors the identical formula."""
    from etl_instagram_spark.functions.geo import haversine_km

    su = _t(spark, sf_dir, "supplier")
    lat = (F.col("s_suppkey") % 120) - 60 + F.lit(0.25)
    lng = (F.col("s_suppkey") * 7 % 360) - 180 + F.lit(0.5)
    dist = haversine_km(lat, lng, F.lit(19.43), F.lit(-99.13))  # CDMX origin
    return (
        su.select((F.floor(dist / 2000)).cast("int").alias("band_2000km"))
        .groupBy("band_2000km")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy("band_2000km")
    )


oracle(
    "supplier_geo_bands",
    """
    WITH pts AS (
      SELECT (s_suppkey % 120) - 60 + 0.25 AS lat,
             (s_suppkey * 7 % 360) - 180 + 0.5 AS lng
      FROM supplier),
    d AS (
      SELECT 2 * 6371.0088 * atan2(
               sqrt(   sin(radians(19.43 - lat) / 2) ^ 2
                     + cos(radians(lat)) * cos(radians(19.43))
                       * sin(radians(-99.13 - lng) / 2) ^ 2),
               sqrt(1 - (sin(radians(19.43 - lat) / 2) ^ 2
                     + cos(radians(lat)) * cos(radians(19.43))
                       * sin(radians(-99.13 - lng) / 2) ^ 2))) AS dist
      FROM pts)
    SELECT CAST(floor(dist / 2000) AS INT) AS band_2000km,
           count(*) AS n_suppliers
    FROM d GROUP BY band_2000km ORDER BY band_2000km
    """,
)


# ---------------------------------------------------------------------------
# orders: intersect / cube set-op + grouping surface
# ---------------------------------------------------------------------------


# (INTERSECT / EXCEPT / EXCEPT ALL are exercised — value-checked via
# per-operator checksums — by orders_set_ops in plans/queries.py)


@query("cube_returnflag_status", gate=False)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set combinations
    in one pass (Catalyst Expand — one shuffle regardless of the number
    of grouping sets)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


oracle(
    "cube_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """,
)


# ---------------------------------------------------------------------------
# shared-SQL query: the engine's spark.sql surface, one SQL text both sides
# ---------------------------------------------------------------------------

_SHARED_SQL_BRAND_REVENUE = f"""
    SELECT p.p_brand AS brand,
           count(*) AS n_items,
           {sql_revenue_dec("l.")}
             AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand
    ORDER BY brand
"""


@query("sql_brand_revenue", gate=False)
def sql_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door: register the test tables as temp
    views and run the EXACT same ANSI text the oracle runs — one string,
    two engines. Catalyst's planning (broadcast part-side, partial agg)
    is identical to the DataFrame version of this query; its broadcast
    plan is pinned in tests/test_plan_invariants.py."""
    from etl_instagram_spark.sources.tables import register_views

    register_views(spark, sf_dir, names=("part", "lineitem"))
    return spark.sql(_SHARED_SQL_BRAND_REVENUE)


oracle("sql_brand_revenue", _SHARED_SQL_BRAND_REVENUE)


# ---------------------------------------------------------------------------
# relational round-out: listagg, EXCEPT ALL, unpivot, full outer
# ---------------------------------------------------------------------------


@query("nation_customer_listagg", gate=False)
def nation_customer_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation: first five customer names per nation,
    deterministically sorted then joined — the listagg surface."""
    cu = _t(spark, sf_dir, "customer")
    return (
        cu.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.concat_ws(
                ",", F.slice(F.sort_array(F.collect_list("c_name")), 1, 5)
            ).alias("first_names"),
        )
        .orderBy("c_nationkey")
    )


oracle(
    "nation_customer_listagg",
    """
    SELECT c_nationkey,
           count(*) AS n_customers,
           array_to_string((list(c_name ORDER BY c_name))[1:5], ',') AS first_names
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)


@query("part_metrics_unpivot", gate=False)
def part_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): per-part numeric metrics as (metric, value)
    rows — Catalyst Expand, one pass, no shuffle."""
    pa = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return (
        pa.select(
            "p_partkey",
            F.col("p_retailprice").alias("retailprice"),
            F.col("p_size").cast("double").alias("size"),
        )
        .unpivot("p_partkey", ["retailprice", "size"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


oracle(
    "part_metrics_unpivot",
    """
    SELECT p_partkey, metric, value
    FROM (SELECT p_partkey,
                 p_retailprice AS retailprice,
                 p_size::DOUBLE AS size
          FROM part WHERE p_partkey <= 100)
    UNPIVOT (value FOR metric IN (retailprice, size))
    ORDER BY p_partkey, metric
    """,
)


@query("nation_customers_suppliers_full", gate=False)
def nation_customers_suppliers_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER between two aggregates: nations ranked by customer and
    supplier counts, keeping nations present on either side only."""
    cu = _t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").alias("n_customers")
    )
    su = _t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").alias("n_suppliers")
    )
    return (
        cu.join(su, on="nk", how="full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


oracle(
    "nation_customers_suppliers_full",
    """
    WITH cu AS (SELECT c_nationkey AS nk, count(*) AS n_customers
                FROM customer GROUP BY c_nationkey),
         su AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
                FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cu.nk, su.nk) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM cu FULL OUTER JOIN su ON cu.nk = su.nk
    ORDER BY nationkey
    """,
)


# ---------------------------------------------------------------------------
# window-frame variants: RANGE rolling window, ntile quartiles
# ---------------------------------------------------------------------------


@query("customer_rolling_30d_revenue", gate=False)
def customer_rolling_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling window: per customer, revenue in the 30 days
    up to each order (value-based frame, not row-based — late/sparse
    orders widen correctly). Partitioned by the high-cardinality customer
    key; frame state is bounded by the 30-day horizon."""
    from pyspark.sql import Window

    od = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    day_num = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_num)
        .rangeBetween(-30, Window.currentRow)
    )
    return od.select(
        "o_custkey",
        "o_orderkey",
        day_num.alias("day_num"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_30d_revenue"),
    ).orderBy("o_custkey", "day_num", "o_orderkey")


oracle(
    "customer_rolling_30d_revenue",
    """
    SELECT o_custkey, o_orderkey,
           datediff('day', DATE '1992-01-01', o_orderdate::DATE) AS day_num,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1992-01-01', o_orderdate::DATE)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS rolling_30d_revenue
    FROM orders WHERE o_custkey <= 100
    ORDER BY o_custkey, day_num, o_orderkey
    """,
)


@query("customer_revenue_quartiles", gate=False)
def customer_revenue_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue quartiles the scale-correct way: percentile BOUNDARIES
    (one tiny aggregate) broadcast into a CASE bucket assignment — no
    global ntile window, which would funnel every row through a single
    partition (WindowExec warns exactly that). Same two-pass shape at
    any scale; swap percentile→percentile_approx for one-pass sketches."""
    od = _t(spark, sf_dir, "orders")
    per_cust = od.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    pcts = F.percentile("revenue", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    bounds = per_cust.agg(
        pcts[0].alias("b1"), pcts[1].alias("b2"), pcts[2].alias("b3")
    )
    quartile = (
        F.when(F.col("revenue") <= F.col("b1"), 1)
        .when(F.col("revenue") <= F.col("b2"), 2)
        .when(F.col("revenue") <= F.col("b3"), 3)
        .otherwise(4)
    )
    return (
        per_cust.crossJoin(F.broadcast(bounds))
        .select(quartile.alias("quartile"), "revenue")
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.min("revenue"), 2).alias("min_revenue"),
            F.round(F.max("revenue"), 2).alias("max_revenue"),
        )
        .orderBy("quartile")
    )


oracle(
    "customer_revenue_quartiles",
    """
    WITH per_cust AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey),
    bounds AS (
      SELECT quantile_cont(revenue, 0.25) AS b1,
             quantile_cont(revenue, 0.5)  AS b2,
             quantile_cont(revenue, 0.75) AS b3
      FROM per_cust),
    bucketed AS (
      SELECT CASE WHEN revenue <= b1 THEN 1
                  WHEN revenue <= b2 THEN 2
                  WHEN revenue <= b3 THEN 3
                  ELSE 4 END AS quartile,
             revenue
      FROM per_cust CROSS JOIN bounds)
    SELECT quartile, count(*) AS n_customers,
           round(min(revenue), 2) AS min_revenue,
           round(max(revenue), 2) AS max_revenue
    FROM bucketed GROUP BY quartile ORDER BY quartile
    """,
)
