"""Events-family queries: exact percentiles, native session windows, the count-
min frequency sketch, the behavioral funnel, and the dyadic-CM quantile
sketch, each with its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.queries import _t, query


# ---------------------------------------------------------------------------
# events: exact percentiles per event type
# ---------------------------------------------------------------------------


@query("events_value_percentiles")
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles of value per event_type
    (F.percentile — matches DuckDB quantile_cont). At scale swap for
    percentile_approx (t-digest, mergeable, one pass) — the exact form
    is the correctness oracle for that approximation."""
    ev = _t(spark, sf_dir, "events")
    pcts = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(pcts[0], 4).alias("p50"),
            F.round(pcts[1], 4).alias("p90"),
            F.round(pcts[2], 4).alias("p99"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


oracle(
    "events_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.9), 4)  AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)


# ---------------------------------------------------------------------------
# events: native session_window (batch) vs gaps-and-islands oracle
# ---------------------------------------------------------------------------


@query("events_session_window_native")
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) in BATCH mode — the same
    operator Structured Streaming uses for session state, so batch and
    stream agree by construction. One shuffle on user_id; session merge
    happens inside the aggregation."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


oracle(
    "events_session_window_native",
    """
    WITH o AS (
      SELECT user_id, ts::TIMESTAMP AS ts, value,
             lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP) AS prev
      FROM events),
    m AS (SELECT *,
                 -- Spark's session window end is exclusive: a gap of
                 -- exactly 30min starts a new session
                 CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM o),
    s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)


# ---------------------------------------------------------------------------
# sketch and behavioral families: count-min frequency, funnel
# ---------------------------------------------------------------------------


@query("events_cm_frequency")
def events_cm_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency sketch
    (operators/sketches.cm_sketch/cm_lookup) — per-event-type user
    frequencies at a deliberately narrow width (w=256 forces real
    collisions), probed for every (type, user) pair with the exact
    count as contrast; registers, hashes, and min-estimates all replay
    bit-for-bit in DuckDB. The overcount guarantee (est ≥ exact) is
    certified on every row by construction of the compared columns."""
    from etl_instagram_spark.operators.sketches import cm_lookup, cm_sketch

    ev = _t(spark, sf_dir, "events")
    w, d = 256, 4
    sk = cm_sketch(ev, "user_id", ["event_type"], w=w, d=d)
    qs = ev.select("event_type", "user_id").distinct()
    est = cm_lookup(sk, qs, "user_id", ["event_type"], w=w, d=d)
    exact = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return (
        est.join(exact, ["event_type", "user_id"])
        .withColumn(
            "overcount", (F.col("cm_estimate") - F.col("exact_count")).cast("long")
        )
        .orderBy(F.col("overcount").desc(), "event_type", "user_id")
        .limit(50)
    )


def _sql_events_cm_frequency() -> str:
    from etl_instagram_spark.operators.sketches import (
        cm_lookup_sql,
        cm_sketch_sql,
    )

    w, d = 256, 4
    sk = cm_sketch_sql("user_id", "events", ["event_type"], w=w, d=d)
    lookup = cm_lookup_sql(
        sk,
        "SELECT DISTINCT event_type, user_id AS value FROM events",
        "value",
        ["event_type"],
        w=w,
        d=d,
    )
    return f"""
    WITH est AS ({lookup}),
    exact AS (SELECT event_type, user_id, count(*)::BIGINT AS exact_count
              FROM events GROUP BY event_type, user_id)
    SELECT e.event_type, e.user_id, est.cm_estimate, e.exact_count,
           (est.cm_estimate - e.exact_count)::BIGINT AS overcount
    FROM est JOIN exact e
      ON est.event_type = e.event_type AND est.value = e.user_id
    ORDER BY overcount DESC, e.event_type, e.user_id
    LIMIT 50
    """


oracle("events_cm_frequency", _sql_events_cm_frequency())


FUNNEL_WINDOW_S = 7 * 24 * 3600


@query("events_funnel_levels")
def events_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-anchor view→click→purchase
    funnel within 7 days (operators/funnel.py) — per-level
    reached/stopped counts and mean seconds-to-depth, all replayed in
    SQL. Semantics pinned precisely because engines disagree
    (ClickHouse windowFunnel makes the same earliest-anchor trade)."""
    from etl_instagram_spark.operators.funnel import funnel_summary

    ev = _t(spark, sf_dir, "events")
    return funnel_summary(
        ev,
        "user_id",
        "ts",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        within_seconds=FUNNEL_WINDOW_S,
    )


SQL_FUNNEL_LEVELS = f"""
    WITH base AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                         event_type FROM events),
    l1 AS (SELECT u, min(t) AS t1 FROM base WHERE event_type = 'view' GROUP BY u),
    l2 AS (SELECT b.u, l1.t1, min(b.t) AS t2
           FROM base b JOIN l1 ON b.u = l1.u
           WHERE b.event_type = 'click' AND b.t > l1.t1
             AND b.t <= l1.t1 + {FUNNEL_WINDOW_S}
           GROUP BY b.u, l1.t1),
    l3 AS (SELECT b.u, l2.t1, min(b.t) AS t3
           FROM base b JOIN l2 ON b.u = l2.u
           WHERE b.event_type = 'purchase' AND b.t > l2.t2
             AND b.t <= l2.t1 + {FUNNEL_WINDOW_S}
           GROUP BY b.u, l2.t1),
    stopped AS (
      SELECT 1 AS level, l1.t1, l1.t1 AS t_last FROM l1
      LEFT JOIN l2 ON l1.u = l2.u WHERE l2.u IS NULL
      UNION ALL
      SELECT 2, l2.t1, l2.t2 FROM l2
      LEFT JOIN l3 ON l2.u = l3.u WHERE l3.u IS NULL
      UNION ALL
      SELECT 3, t1, t3 FROM l3),
    by_level AS (
      SELECT level, count(*) AS n_stopped,
             round(CAST(sum(t_last - t1) AS DOUBLE) / count(*), 4)
               AS avg_secs_to_here
      FROM stopped GROUP BY level)
    SELECT level,
           (sum(n_stopped) OVER (ORDER BY level DESC))::BIGINT AS n_reached,
           n_stopped, avg_secs_to_here
    FROM by_level ORDER BY level
    """


oracle("events_funnel_levels", SQL_FUNNEL_LEVELS)


# ---------------------------------------------------------------------------
# sketch family, quantile and distinct-count faces
# ---------------------------------------------------------------------------


@query("events_dcm_quantiles")
def events_dcm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic count-min QUANTILE sketch
    (operators/sketches.dcm_sketch/dcm_quantiles, the r12 addition) —
    per-event-type value quantiles (p25/p50/p75/p95) answered from the
    ≤ d·w·b-row register state alone via the b-round integer bit
    descent; registers AND every descent round replay bit-for-bit in
    DuckDB (dcm_quantiles_sql CTE chain). ``exact_below`` contrasts
    each answer with the true strictly-below count — certifying the
    quantile against the DATA, not just the twin engine.

    Values are cents: ``floor(value*100)`` — floor-then-cast because
    DuckDB's double→BIGINT cast ROUNDS while Spark's truncates; floor
    is an exactly-rounded IEEE op so both engines see the same
    integer. Domain [1, 49003) fits the default b=16 bits.

    Scale: the sketch is one explode+counting groupBy (shuffle ≤
    groups·d·w·b rows regardless of input); the descent probes a
    groups×quantiles frame b times against the pinned tiny register
    frame; the contrast join broadcasts the 20-row quantile frame over
    one events scan. Reference analogue: the rates time-series
    percentile surface (eldolar.js:17-36 → SURVEY §2.9)."""
    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles,
        dcm_sketch,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v"),
    )
    sk = dcm_sketch(ev, "v", ["event_type"])
    # reused: output + contrast probe. Lazy (r20): the contrast's
    # broadcast build is the first consumer and materializes the 20-row
    # frame; eager paid the same work plus a dedicated job barrier
    qs = dcm_quantiles(
        sk, [(1, 4), (1, 2), (3, 4), (19, 20)], ["event_type"]
    ).localCheckpoint(eager=False)
    exact = (
        F.broadcast(qs.select("event_type", "q_num", "q_den", "q_value"))
        .join(ev, "event_type")
        .filter(F.col("v") < F.col("q_value"))
        .groupBy("event_type", "q_num", "q_den")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_below"))
    )
    return (
        qs.join(exact, ["event_type", "q_num", "q_den"], "left")
        .withColumn(
            "exact_below",
            F.coalesce("exact_below", F.lit(0)).cast("long"),
        )
        .select(
            "event_type",
            "q_num",
            "q_den",
            "n",
            "target",
            "q_value",
            "exact_below",
        )
        .orderBy("event_type", "q_den", "q_num")
    )


def _sql_events_dcm_quantiles() -> str:
    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles_sql,
        dcm_sketch_sql,
    )

    sk = dcm_sketch_sql("CAST(floor(value * 100) AS BIGINT)", "events", ["event_type"])
    ctes = dcm_quantiles_sql(sk, [(1, 4), (1, 2), (3, 4), (19, 20)], ["event_type"])
    return f"""
    WITH {ctes},
    ev AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
    exact AS (SELECT q.event_type, q.q_num, q.q_den,
                     (count(*) FILTER (WHERE e.v < q.q_value))::BIGINT AS exact_below
              FROM qout q JOIN ev e ON e.event_type = q.event_type
              GROUP BY q.event_type, q.q_num, q.q_den)
    SELECT q.event_type, q.q_num, q.q_den, q.n, q.target, q.q_value,
           COALESCE(x.exact_below, 0)::BIGINT AS exact_below
    FROM qout q LEFT JOIN exact x
      ON x.event_type = q.event_type AND x.q_num = q.q_num
     AND x.q_den = q.q_den
    ORDER BY q.event_type, q.q_den, q.q_num
    """


oracle("events_dcm_quantiles", _sql_events_dcm_quantiles())


# ---------------------------------------------------------------------------
# events: HyperLogLog distinct-count sketch (gated r14)
# ---------------------------------------------------------------------------


@query("events_hll_distinct")
def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct event_ids per
    event_type (operators/sketches.py) with the exact count as contrast
    — register state (buckets_hit), the EXACT integer harmonic sum, and
    the raw estimate all replay bit-for-bit in DuckDB; the sketch uses
    the engine-neutral md5 hash and an integer-comparison rho chain, so
    unlike approx_count_distinct it is second-system-checkable. With CM
    (r13), MG (docs_heavy_hitters), and dyadic-CM (r14) already gated,
    this seat completes DIRECT driver certification of all four sketch
    faces (distincts / point frequency / heavy hitters / quantiles)."""
    from etl_instagram_spark.operators.sketches import hll_summary

    ev = _t(spark, sf_dir, "events")
    sk = hll_summary(ev, "event_id", ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("event_id").alias("exact_distinct")
    )
    return sk.join(exact, "event_type").orderBy("event_type")


def _sql_events_hll_distinct() -> str:
    from etl_instagram_spark.operators.sketches import hll_summary_sql

    inner = hll_summary_sql("event_id", "events", ["event_type"])
    return f"""
    WITH sk AS ({inner}),
    ex AS (SELECT event_type, count(DISTINCT event_id) AS exact_distinct
           FROM events GROUP BY event_type)
    SELECT sk.event_type, buckets_hit, sum_scaled, hll_estimate,
           exact_distinct
    FROM sk JOIN ex ON sk.event_type = ex.event_type
    ORDER BY sk.event_type
    """


oracle("events_hll_distinct", _sql_events_hll_distinct())
