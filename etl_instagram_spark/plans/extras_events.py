"""Events-table non-gate rows, each registered with ``@query(name,
gate=False)`` beside its body and paired with an ``oracle(name, sql)``
mirror (checked by tests/test_rotated_parity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.queries import _t, query


oracle(
    "events_sessionization",
    """
    WITH flagged AS (
      SELECT user_id, value, ts, event_id,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_seq,
             count(*)             AS n_events,
             round(sum(value), 2) AS session_value
      FROM sessions GROUP BY user_id, session_seq
    )
    SELECT user_id,
           count(*)                    AS n_sessions,
           max(n_events)               AS max_session_events,
           round(sum(session_value), 2) AS total_value
    FROM per_session
    GROUP BY user_id
    ORDER BY user_id
    """,
)


@query("events_sessionization", gate=False)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative sum
    of session-start flags — the batch analogue of the NATIVE
    session_window in events_session_window_native."""
    from etl_instagram_spark.plans.queries import _epoch_s

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            _epoch_s(F.col("ts")) - F.lag(_epoch_s(F.col("ts"))).over(w) > 1800, 1
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_seq", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.sum("session_value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


oracle(
    "events_gapfill",
    """
    WITH obs AS (
      SELECT event_type AS key,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS b,
             count(*) AS n_obs, round(avg(value), 6) AS value_obs
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT key, CAST(min(b) / 3600 AS BIGINT) AS lo,
             CAST(max(b) / 3600 AS BIGINT) AS hi
      FROM obs GROUP BY key),
    grid AS (
      SELECT key, unnest(generate_series(lo, hi)) * 3600 AS b FROM bounds),
    g AS (
      SELECT grid.key, grid.b, obs.n_obs, obs.value_obs
      FROM grid LEFT JOIN obs ON grid.key = obs.key AND grid.b = obs.b),
    w AS (
      SELECT key, b, n_obs, value_obs,
             last_value(value_obs IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             last_value(CASE WHEN value_obs IS NOT NULL THEN b END IGNORE NULLS)
               OVER (PARTITION BY key ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
             first_value(value_obs IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             first_value(CASE WHEN value_obs IS NOT NULL THEN b END IGNORE NULLS)
               OVER (PARTITION BY key ORDER BY b
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
      FROM g)
    SELECT key AS event_type, make_timestamp(b * 1000000) AS bucket_ts,
           coalesce(n_obs, 0) AS n_obs, value_obs,
           prev_v AS value_locf,
           CASE WHEN value_obs IS NOT NULL THEN value_obs
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                THEN round(prev_v + (next_v - prev_v)
                           * ((b - prev_b) / nullif(next_b - prev_b, 0)), 6)
                ELSE prev_v END AS value_linear
    FROM w ORDER BY event_type, bucket_ts
    """,
)


@query("events_gapfill", gate=False)
def _events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-filled events per type, LOCF + linear (the
    time_bucket_gapfill shape, operators/temporal.gapfill). Grid size is
    O(keys × buckets) regardless of event count; the mirror replays
    bucketing, per-key grids, and both fills with IGNORE-NULLS windows."""
    from etl_instagram_spark.operators.temporal import gapfill

    return gapfill(_t(spark, sf_dir, "events"), bucket="1 hour").orderBy(
        "event_type", "bucket_ts"
    )


oracle(
    "events_anomalies",
    """
    WITH scored AS (
      SELECT event_type, ts, event_id, value,
             round((value - avg(value) OVER w)
                   / nullif(stddev_samp(value) OVER w, 0.0), 4) AS z_score
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN abs(z_score) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           round(max(abs(z_score)), 4) AS max_abs_z
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)


@query("events_anomalies", gate=False)
def _events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly profile per event type
    (temporal.rolling_zscore, lookback 100, |z| > 3); the mirror
    replays the trailing window, the sample-stddev guard, and the flag
    threshold."""
    from etl_instagram_spark.operators.temporal import rolling_zscore

    scored = rolling_zscore(_t(spark, sf_dir, "events"))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)).alias("n_anomalies"),
            F.round(F.max(F.abs(F.col("z_score"))), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


@query("events_ewma", gate=False)
def _events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window exponential smoothing
    (operators/temporal.ewma_smooth) over each event-type series —
    per-type row count, an order-independent integer checksum of every
    smoothed value (Σ floor(ewma·10^6)), and the series' final ewma.
    The checksum certifies EVERY row's smoothed value without emitting
    6k rows; integer sums make it partition-order-proof."""
    from etl_instagram_spark.operators.temporal import ewma_smooth

    ev = _t(spark, sf_dir, "events")
    sm = ewma_smooth(ev, alpha=0.3, window=8)
    w = W.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = (
        sm.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_type", F.col("ewma").alias("last_ewma"))
    )
    agg = sm.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("ewma") * 1e6).cast("long")).alias("ewma_checksum"),
    )
    return agg.join(last, "event_type").orderBy("event_type")


def _sql_events_ewma() -> str:
    from etl_instagram_spark.operators.temporal import ewma_sql_expr

    e = ewma_sql_expr(0.3, 8)
    return f"""
    WITH sm AS (
      SELECT event_type, ts, event_id, {e} AS ewma
      FROM (SELECT event_type, ts, event_id,
                   list(value::DOUBLE) OVER (
                     PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
            FROM events WHERE value IS NOT NULL)),
    last AS (
      SELECT event_type, ewma AS last_ewma
      FROM (SELECT event_type, ewma,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM sm) WHERE rn = 1)
    SELECT sm.event_type, count(*) AS n_rows,
           (sum(CAST(floor(ewma * 1e6) AS BIGINT)))::BIGINT AS ewma_checksum,
           any_value(last_ewma) AS last_ewma
    FROM sm JOIN last ON sm.event_type = last.event_type
    GROUP BY sm.event_type
    ORDER BY sm.event_type
    """


oracle("events_ewma", _sql_events_ewma())


@query("events_cohort_retention", gate=False)
def _events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — cohort by first-
    event week, activity by any-event week, offsets 0..8."""
    from etl_instagram_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", max_offset=8)


@query("events_transitions", gate=False)
def _events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over
    each user's event sequence under the (ts, event_id) total order —
    counts + row-normalized probabilities, replayed in SQL."""
    from etl_instagram_spark.operators.funnel import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev, "user_id", "ts", "event_type", "event_id")


oracle(
    "events_transitions",
    """
    WITH pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_state,
             event_type AS to_state
      FROM events),
    counts AS (
      SELECT from_state, to_state, count(*) AS n_transitions
      FROM pairs WHERE from_state IS NOT NULL
      GROUP BY from_state, to_state)
    SELECT from_state, to_state, n_transitions,
           round(n_transitions
                 / (sum(n_transitions) OVER (PARTITION BY from_state))::DOUBLE,
                 6) AS prob
    FROM counts
    ORDER BY from_state, to_state
    """,
)


oracle(
    "events_cohort_retention",
    """
    WITH f AS (SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort
               FROM events GROUP BY u),
    a AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS wk
          FROM events),
    cs AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY cohort),
    j AS (SELECT f.cohort,
                 CAST((floor(epoch(a.wk)) - floor(epoch(f.cohort)))
                      / 604800 AS BIGINT) AS week_offset,
                 count(DISTINCT a.u) AS n_active
          FROM a JOIN f ON a.u = f.u
          WHERE floor(epoch(a.wk)) >= floor(epoch(f.cohort))
            AND floor(epoch(a.wk)) <= floor(epoch(f.cohort)) + 8 * 604800
          GROUP BY 1, 2)
    SELECT strftime(j.cohort, '%Y-%m-%d') AS cohort_week, week_offset,
           n_active, cohort_size,
           round(n_active * 100.0 / cohort_size, 4) AS retention_pct
    FROM j JOIN cs USING (cohort)
    ORDER BY cohort_week, week_offset
    """,
)
