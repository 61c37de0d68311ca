"""The engine's declared analytics query inventory (Spark side).

Each query is a callable ``(spark, sf_dir) -> DataFrame`` over the driver's
TPC-H-ish tables. They exercise the full relational operator surface the
engine supports (SURVEY §2.3/2.5/2.6/2.7): joins of every flavor,
hash/partial aggregation, windows, sorts/top-k, set ops, rollup/pivot,
scalar string/date/math functions, and JSON extraction — all expressed
declaratively so Catalyst handles pushdown/pruning/join-selection, with
explicit ``broadcast`` hints where a dimension side is known-small.

Naming contract: every computed column is aliased identically here and in
``plans.oracle`` so the driver's column-sorted value-hash comparison holds.
Doubles that accumulate float error are rounded (2dp money, 4-6dp ratios)
on BOTH sides.

Scale notes are inline per query; the common themes at 100 TB:
- filters/projections sit directly on the parquet scan (pushdown),
- BOUNDED dimensions (region: 5 rows, nation: 25 rows at every SF) carry
  static broadcast hints; SF-scaling tables (customer, supplier, part)
  carry NO hint — AQE broadcasts them from runtime stats while they fit
  and falls back to shuffle join when they don't, so the plan survives a
  100× scale-up without a driver OOM,
- fact-fact joins (orders⋈lineitem) shuffle on the join key — at cluster
  scale both sides would be bucketed by orderkey to make this shuffle-free,
- windows partition by high-cardinality keys (custkey, user_id) so state
  per partition stays bounded; no global orderBy except final top-k
  (TakeOrderedAndProject, no full sort).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_instagram_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (fn, gate). Gate rows are the driver contract (exactly 50);
# the rest keep the same DuckDB value check in tests/test_rotated_parity.py.
# Every row pairs with one ``plans.oracle.oracle(name, sql)`` entry.
_REGISTRY: dict[str, tuple[QueryFn, bool]] = {}


def query(name: str, gate: bool = True) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} registered twice")
        _REGISTRY[name] = (fn, gate)
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    """The gate rows only: the driver contract's query inventory."""
    return {name: fn for name, (fn, gate) in _REGISTRY.items() if gate}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _epoch_s(c) -> "F.Column":
    """Seconds-since-epoch that tolerates both timestamp flavors: parquet
    written with isAdjustedToUTC=false reads as TIMESTAMP_NTZ under
    Spark's NTZ inference, and NTZ → BIGINT is an illegal direct cast.
    NTZ → TIMESTAMP is legal (interpreted in the session zone, pinned
    UTC) and a no-op on an already-LTZ column, so the two-step cast
    yields identical epochs for either input type."""
    return c.cast("timestamp").cast("long")


def _revenue_dec() -> "F.Column":
    """``round(sum(price·(1−disc)), 2)`` in exact DECIMAL, cast to double
    — the tie-proof revenue aggregate shared by q3/q5 (and mirrored
    verbatim as SQL_REVENUE_DEC in plans.oracle). price and discount are
    2dp values, so the product lives on a 1e-4 grid and its EXACT sum can
    land precisely on a 0.005 rounding boundary; a float sum's
    partitioning-dependent last ulps then flip the rounded result (the
    docs_pack_cumsum tie class). The decimal sum is order-independent and
    bit-equal across engines; both round half-away-from-zero in decimal,
    and the final double cast of a 2dp value is correctly rounded on both."""
    price_d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_d = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return F.round(F.sum(price_d * (one - disc_d)), 2).cast("double")


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query("q1_pricing_summary")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with 8 partial-aggregatable
    measures. Scale: map-side combine collapses 100 TB to |groups|≈6 rows
    before the shuffle; the date filter pushes into the parquet scan.

    The money measures aggregate in exact DECIMAL: the inputs are 2dp
    values, so the discounted/charged products live on a 1e-4/1e-6 grid
    and a float sum's order-dependent last ulps can straddle a rounding
    boundary the exact sum lands on (the docs_pack_cumsum tie class).
    A decimal sum is order-independent and bit-equal across engines;
    averages divide the decimal sum (cast once to double) by the count.
    l_quantity stays double — its values are integral, so even float
    partial sums are exact at any partitioning."""
    li = _t(spark, sf_dir, "lineitem")
    price_d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_d = F.col("l_discount").cast("decimal(4,2)")
    tax_d = F.col("l_tax").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            # free round (value is already 2dp) so parity never rests on
            # the raw wide-decimal→double cast being correctly rounded
            F.round(F.sum(price_d), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(price_d * (one - disc_d)), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(price_d * (one - disc_d) * (one + tax_d)), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.sum(price_d).cast("double") / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(F.sum(disc_d).cast("double") / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("q6_forecast_revenue", gate=False)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global agg — entirely pushdown-able;
    at scale this is a single scan with zero shuffle (partial sums only)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        # price·disc lives on a 1e-4 grid: exact DECIMAL sum (see
        # _revenue_dec) so the 2dp rounding can't sit on a tie
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            ),
            2,
        )
        .cast("double")
        .alias("revenue")
    )


@query("events_hypertable_rollup")
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time-series rollup (the reference's rates
    time-series analytics, SURVEY §2.9, generalized to the
    continuous-aggregate shape): hour, day, AND week buckets per
    event_type from ONE scan — operators/temporal.hypertable_rollup
    shuffles the raw rows once at hour grain and derives day/week from
    those partials, so shuffle volume stays 1× raw + O(groups) instead
    of the 3× an Expand-based GROUPING SETS pays. Supersedes the former
    events_hourly_rollup (its rows are the hour level of this output).
    Buckets are emitted as strings for engine-neutral comparison."""
    from etl_instagram_spark.operators.temporal import hypertable_rollup

    ev = _t(spark, sf_dir, "events")
    out = hypertable_rollup(
        ev,
        "ts",
        ["hour", "day", "week"],
        dims=["event_type"],
        # sum only: avg is re-derived below from the rounded sum, so the
        # rollup's own avg (and its __cnt partial) would be dead weight
        # in both shuffles
        measures={"value": ["sum"]},
        row_count="n_events",
    )
    # avg is re-derived from the ROUNDED sum so both engines divide the
    # same double — dividing engine-local unrounded sums can land exactly
    # on a .00005 half-way and flip the 4th decimal
    return out.select(
        "grain",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        F.round(F.round("sum_value", 2) / F.col("n_events"), 4).alias("avg_value"),
    ).orderBy("grain", "bucket", "event_type")


@query("events_json_extract")
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props payload (reference F16:
    posts-from-hashtags.js:166, 210 — JSON.parse of embedded blobs)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # value is a 2dp grid column: avg via the exact DECIMAL sum
            # so the 4dp rounding can't sit on a summation-order tie
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# Joins of every flavor (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query("q3_unshipped_revenue")
def q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dimension-filtered 3-way join + agg + top-10.
    Scale: no broadcast hint on customer — the BUILDING filter keeps a
    constant *fraction* of a table that grows with SF, so a static hint
    OOMs at 100×; AQE broadcasts it at runtime only while it fits.
    orders⋈lineitem is the only big shuffle (bucket both by orderkey on a
    real cluster); final top-10 is TakeOrderedAndProject — no global sort."""
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-06-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-06-15"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "o_orderpriority")
        # exact DECIMAL revenue (see q1's docstring): the top-10 CUTOFF
        # rides on this value, so order-dependent float ulps could even
        # change which rows qualify
        .agg(_revenue_dec().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query("q5_region_revenue")
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way snowflake join. Only the truly bounded
    dimensions (region: 5 rows, nation: 25 rows at every SF) carry static
    broadcast hints; customer AND supplier both scale linearly with SF
    (supplier is SF×10k — smaller than customer but just as unbounded),
    so neither carries a hint — AQE broadcasts from runtime stats while
    they fit and degrades gracefully when they don't.
    The co-located supplier/customer nation equality prunes rows early."""
    re = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    na = _t(spark, sf_dir, "nation")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(cu, (od.o_custkey == cu.c_custkey) & (cu.c_nationkey == su.s_nationkey))
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue_dec().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query("q4_order_priority_semijoin")
def q4_order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (the reference's existence
    checks J3-J5 inverted). Semi join shuffles only the key column."""
    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01")) & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    # orders with at least one high-discount lineitem
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.05)
    return (
        od.join(li.select("l_orderkey"), od.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Windows (SURVEY A4/O1/O2 generalized)
# ---------------------------------------------------------------------------


@query("top3_orders_per_customer", gate=False)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window (reference A4 top-terms
    pattern). Partition by custkey → state bounded per key at any scale."""
    od = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        od.withColumn("rank_in_customer", F.row_number().over(w))
        .filter(F.col("rank_in_customer") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rank_in_customer",
        )
        .orderBy("o_custkey", "rank_in_customer")
    )


@query("order_gap_days", gate=False)
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG window: days since the customer's previous order."""
    od = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return od.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    ).orderBy("o_custkey", "o_orderkey")


@query("events_asof_join")
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of alignment over the events timeline: every purchase joined
    to the same user's latest at-or-before view (the point-in-time
    lookup shape behind feature stores and cross-modal alignment).
    Runs operators/temporal.as_of_join — union + ONE key shuffle +
    running-last window, never the non-equi pair join Catalyst would
    nested-loop. The oracle replays it with DuckDB's NATIVE ``ASOF LEFT
    JOIN``, value-checking the window formulation against a second
    engine's dedicated implementation. (Replaced daily_top_user_by_value,
    whose row_number-argmax operator stays covered by
    top3_orders_per_customer.)

    Views are pre-aggregated to one row per (user_id, ts) so as-of tie
    semantics are deterministic in both engines."""
    from etl_instagram_spark.operators.temporal import as_of_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("view_value"))
    )
    joined = as_of_join(purchases, views, "user_id", left_ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        "purchase_value",
        F.col("view_value_r").alias("view_value"),
        (_epoch_s(F.col("ts")) - _epoch_s(F.col("ts_r"))).alias("gap_s"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Set ops / distinct (SURVEY §2.6)
# ---------------------------------------------------------------------------


@query("orders_set_ops")
def orders_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full set-operator surface (O5/O7 generalized) in one gated
    result: UNION-distinct, INTERSECT, EXCEPT (distinct), and EXCEPT ALL
    (multiset — surplus occurrences survive), each summarized as a
    labeled (n_rows, checksum) row so every operator's OUTPUT VALUES are
    hash-checked, not just its row count. Checksums are sum(key) for the
    custkey ops and sum(hash32(value)) for the string multiset. Each leg
    is one or two shuffles on the compared column; the four legs share
    the orders scan."""
    from etl_instagram_spark.functions.text import hash32

    od = _t(spark, sf_dir, "orders")
    hi = od.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    urgent = od.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    y96 = od.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    y01 = od.filter(F.year("o_orderdate") == 2001).select("o_custkey").distinct()
    p96 = od.filter(F.year("o_orderdate") == 1996).select("o_orderpriority")
    p97 = od.filter(F.year("o_orderdate") == 1997).select("o_orderpriority")

    def leg(df: DataFrame, name: str, checksum) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(checksum, F.lit(0)).cast("long").alias("checksum"),
        ).select(F.lit(name).alias("set_op"), "n_rows", "checksum")

    key_sum = F.sum("o_custkey")
    return (
        leg(hi.union(urgent).distinct(), "union_hi_urgent", key_sum)
        .unionByName(leg(y96.intersect(y01), "intersect_1996_2001", key_sum))
        .unionByName(leg(y96.subtract(y01), "except_1996_2001", key_sum))
        .unionByName(
            leg(
                p96.exceptAll(p97),
                "except_all_priorities",
                F.sum(hash32(F.col("o_orderpriority"))),
            )
        )
        .orderBy("set_op")
    )


# ---------------------------------------------------------------------------
# Scalar function surface (SURVEY §2.7)
# ---------------------------------------------------------------------------


@query("part_scalar_functions")
def part_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar kernel over part (F1/F2/F5/F9/F11 analogues):
    concat, upper, substring, length, split-count, regexp_replace, round,
    casts — all JVM-side whole-stage-codegen expressions."""
    pa = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return pa.select(
        "p_partkey",
        F.concat(F.lit("part:"), F.col("p_name")).alias("tagged_name"),
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.substring(F.col("p_type"), 1, 5).alias("type_prefix"),
        F.length(F.col("p_name")).alias("name_len"),
        F.size(F.split(F.col("p_type"), " ")).alias("type_words"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("name_novowels"),
        F.round(F.col("p_retailprice") * 1.08, 2).alias("price_with_tax"),
        F.col("p_size").cast("double").alias("size_d"),
        (F.col("p_partkey") % 7).alias("key_mod7"),
    ).orderBy("p_partkey")


@query("conditional_agg_promo_share", gate=False)
def conditional_agg_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: CASE WHEN inside an aggregate (conditional agg).
    `part` is SF×200k rows — it scales linearly with the fact, so no static
    broadcast hint; AQE broadcasts at runtime only while it fits."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    joined = li.join(pa, li.l_partkey == pa.p_partkey)
    # ratio of exact DECIMAL sums (see _revenue_dec's tie-class note),
    # cast to double once before the division/round
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    zero = F.lit(0).cast("decimal(24,4)")
    return joined.agg(
        F.round(
            F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(zero)).cast("double")
            / F.sum(rev).cast("double")
            * 100,
            4,
        ).alias("promo_share_pct")
    )
