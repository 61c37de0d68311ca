"""DuckDB oracle SQL — one ANSI-SQL statement per query in plans.queries.

The driver runs these against the same parquet tables (pre-registered
views) and compares row-count + schema + order-insensitive value hash
against the Spark result. Aliases and rounding MUST match plans.queries
exactly; columns are compared sorted-by-name so order is free but names
are not.
"""

from __future__ import annotations

from collections.abc import Callable

from etl_instagram_spark.functions.text import hash32_sql
from etl_instagram_spark.plans.queries import _REGISTRY, QueryFn, all_queries

_ORACLE: dict[str, "str | Callable[[], str]"] = {}

def sql_revenue_dec(prefix: str = "") -> str:
    """Exact-DECIMAL revenue aggregate — the DuckDB mirror of
    plans.queries._revenue_dec (see its docstring for the tie-class
    argument). ``prefix`` qualifies the columns for aliased-table
    queries (e.g. ``"l."``). Every oracle that sums price·(1−disc)
    interpolates THIS text so the expression cannot drift from the
    Spark twin (round-7 advisor finding: the constant existed but was
    never interpolated, letting copies diverge silently)."""
    return (
        f"CAST(round(sum(CAST({prefix}l_extendedprice AS DECIMAL(18,2))"
        f" * (1 - CAST({prefix}l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)"
    )


SQL_REVENUE_DEC = sql_revenue_dec()


def oracle(name: str, sql: "str | Callable[[], str]") -> None:
    """Register oracle SQL for a query — either the string itself or a
    zero-arg callable resolved when read (``all_oracle_sql`` caches the
    gate rows' results). The lazy form exists for oracles whose literals must be FIT
    from the gate data (e.g. IVF centroids): building them at import
    time would read parquet on every ``import etl_instagram_spark``."""
    _ORACLE[name] = sql


def all_oracle_sql() -> dict[str, str]:
    """Oracle SQL of the gate rows; only their lazy mirrors are resolved."""
    gate = all_queries()
    out: dict[str, str] = {}
    for name, sql in _ORACLE.items():
        if name not in gate:
            continue
        if callable(sql):
            sql = sql()
            _ORACLE[name] = sql
        out[name] = sql
    return out


def rotated_queries() -> dict[str, "tuple[QueryFn, str | Callable[[], str] | None]"]:
    """The non-gate rows as name -> (fn, sql). ``sql`` is returned as
    registered: a string, or a lazy callable the caller resolves."""
    return {
        name: (fn, _ORACLE.get(name))
        for name, (fn, gate) in _REGISTRY.items()
        if not gate
    }


oracle(
    "q1_pricing_summary",
    f"""
    -- money measures in exact DECIMAL (order-independent, bit-equal to
    -- Spark's decimal sums); see q1_pricing_summary's docstring.
    -- sum_base_price carries a free round(...,2) (the value is already
    -- 2dp) so cross-engine equality never rests on the raw
    -- hugeint-decimal→double cast being correctly rounded at scale.
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_base_price,
           {SQL_REVENUE_DEC}
             AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))
                          * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE)
             AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                 / count(*), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

oracle(
    "q6_forecast_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)

oracle(
    "events_hypertable_rollup",
    """
    WITH g AS (SELECT unnest(['hour', 'day', 'week']) AS grain)
    SELECT grain,
           strftime(date_trunc(grain, ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           count(*)              AS n_events,
           round(sum(value), 2)  AS sum_value,
           round(round(sum(value), 2) / count(*), 4) AS avg_value
    FROM events CROSS JOIN g
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)

oracle(
    "events_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)
             AS avg_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)

oracle(
    "q3_unshipped_revenue",
    f"""
    SELECT l_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority,
           {SQL_REVENUE_DEC} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)

oracle(
    "q5_region_revenue",
    f"""
    SELECT n_name,
           {SQL_REVENUE_DEC} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)

oracle(
    "q4_order_priority_semijoin",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount >= 0.05)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

oracle(
    "top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey,
           round(o_totalprice, 2) AS o_totalprice,
           rank_in_customer
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_customer
      FROM orders WHERE o_custkey < 100
    )
    WHERE rank_in_customer <= 3
    ORDER BY o_custkey, rank_in_customer
    """,
)

oracle(
    "order_gap_days",
    """
    SELECT o_custkey, o_orderkey,
           datediff('day',
                    lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                                                         ORDER BY o_orderdate, o_orderkey),
                    CAST(o_orderdate AS DATE)) AS gap_days
    FROM orders WHERE o_custkey < 50
    ORDER BY o_custkey, o_orderkey
    """,
)

oracle(
    "events_asof_join",
    """
    WITH p AS (SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts, round(max(value), 2) AS view_value
               FROM events WHERE event_type = 'view' GROUP BY 1, 2)
    SELECT p.event_id, p.user_id, p.purchase_value, v.view_value,
           CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_s
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.event_id
    """,
)

oracle(
    "orders_set_ops",
    f"""
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
         urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
         y01 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2001),
         p96 AS (SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996),
         p97 AS (SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1997),
         u AS (SELECT o_custkey FROM hi UNION SELECT o_custkey FROM urgent),
         i AS (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y01),
         e AS (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y01),
         ea AS (SELECT o_orderpriority FROM p96 EXCEPT ALL SELECT o_orderpriority FROM p97)
    SELECT 'union_hi_urgent' AS set_op, count(*) AS n_rows,
           coalesce(sum(o_custkey), 0)::BIGINT AS checksum FROM u
    UNION ALL
    SELECT 'intersect_1996_2001', count(*), coalesce(sum(o_custkey), 0)::BIGINT FROM i
    UNION ALL
    SELECT 'except_1996_2001', count(*), coalesce(sum(o_custkey), 0)::BIGINT FROM e
    UNION ALL
    SELECT 'except_all_priorities', count(*),
           coalesce(sum({hash32_sql("o_orderpriority")}), 0)::BIGINT FROM ea
    ORDER BY set_op
    """,
)

oracle(
    "part_scalar_functions",
    """
    SELECT p_partkey,
           'part:' || p_name                         AS tagged_name,
           upper(p_brand)                            AS brand_upper,
           substr(p_type, 1, 5)                      AS type_prefix,
           length(p_name)                            AS name_len,
           len(string_split(p_type, ' '))            AS type_words,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels,
           round(p_retailprice * 1.08, 2)            AS price_with_tax,
           CAST(p_size AS DOUBLE)                    AS size_d,
           p_partkey % 7                             AS key_mod7
    FROM part WHERE p_partkey <= 200
    ORDER BY p_partkey
    """,
)

oracle(
    "conditional_agg_promo_share",
    """
    SELECT round(
             CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                      THEN CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) * 100,
             4) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
