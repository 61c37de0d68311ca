"""operators/funnel.py — earliest-anchor funnels + cohort retention.

Cross-engine value parity lives in the rows events_funnel_levels
(plans/q_events.py) and events_cohort_retention (plans/extras_events.py);
here: hand cases
pinning the documented semantics (earliest anchor, strictly-after,
window cutoff), a Python differential on real events, validation, and
partitioning invariance."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.funnel import (
    cohort_retention,
    funnel_summary,
    funnel_users,
)

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, T0 + timedelta(seconds=s), t) for u, s, t in rows],
        "user_id long, ts timestamp, event_type string",
    )


def STEPS():
    # built lazily: Column construction needs an active SparkContext
    return [
        F.col("event_type") == "a",
        F.col("event_type") == "b",
        F.col("event_type") == "c",
    ]


def test_funnel_semantics_hand_case(spark):
    rows = [
        # user 1: full chain inside the window
        (1, 0, "a"), (1, 10, "b"), (1, 20, "c"),
        # user 2: b BEFORE the anchor a — not a chain; later b missing
        (2, 50, "b"), (2, 100, "a"),
        # user 3: chain but c lands outside the window from t1
        (3, 0, "a"), (3, 10, "b"), (3, 2000, "c"),
        # user 4: earliest-anchor trade — the EARLY a anchors, so the
        # late c (within window of the 2nd a but not the 1st) is lost
        (4, 0, "a"), (4, 500, "a"), (4, 600, "b"), (4, 1400, "c"),
        # user 5: never fires step 1 — absent
        (5, 0, "b"), (5, 1, "c"),
    ]
    out = {
        r["user_id"]: (r["level"], r["t1"], r["t_last"])
        for r in funnel_users(
            _ev(spark, rows), "user_id", "ts", STEPS(), within_seconds=1000
        ).collect()
    }
    e0 = int(T0.timestamp())
    assert out[1] == (3, e0 + 0, e0 + 20)
    assert out[2] == (1, e0 + 100, e0 + 100)
    assert out[3] == (2, e0 + 0, e0 + 10)   # c at 2000 > t1+1000
    assert out[4] == (2, e0 + 0, e0 + 600)  # anchored at 0; c at 1400 too late
    assert 5 not in out


def test_funnel_summary_reached_is_cumulative(spark):
    rows = [
        (1, 0, "a"), (1, 1, "b"), (1, 2, "c"),
        (2, 0, "a"), (2, 1, "b"),
        (3, 0, "a"),
    ]
    got = {
        r["level"]: (r["n_reached"], r["n_stopped"], r["avg_secs_to_here"])
        for r in funnel_summary(
            _ev(spark, rows), "user_id", "ts", STEPS(), within_seconds=100
        ).collect()
    }
    assert got[1] == (3, 1, 0.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (1, 1, 2.0)


def _py_funnel(rows, window):
    """Independent earliest-anchor reference over (u, sec, type)."""
    by_u = {}
    for u, s, t in rows:
        by_u.setdefault(u, []).append((s, t))
    out = {}
    for u, evs in by_u.items():
        evs.sort()
        firsts = [s for s, t in evs if t == "a"]
        if not firsts:
            continue
        t1 = min(firsts)
        level, tprev = 1, t1
        for step in ["b", "c"]:
            nxt = [s for s, t in evs if t == step and s > tprev and s <= t1 + window]
            if not nxt:
                break
            tprev = min(nxt)
            level += 1
        out[u] = (level, t1, tprev)
    return out


def test_funnel_matches_python_reference_on_real_events(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    steps = [
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    ]
    got = {
        r["user_id"]: (r["level"], r["t1"], r["t_last"])
        for r in funnel_users(
            ev, "user_id", "ts", steps, within_seconds=86400
        ).collect()
    }
    rows = [
        (r["user_id"], int(r["ts"].timestamp()), r["event_type"])
        for r in ev.select("user_id", "ts", "event_type").collect()
    ]
    remap = [(u, s, {"view": "a", "click": "b", "purchase": "c"}.get(t, "x"))
             for u, s, t in rows]
    assert got == _py_funnel(remap, 86400)


def test_funnel_validation(spark):
    df = _ev(spark, [(1, 0, "a")])
    with pytest.raises(ValueError):
        funnel_users(df, "user_id", "ts", STEPS()[:1], 100)
    with pytest.raises(ValueError):
        funnel_users(df, "user_id", "ts", STEPS(), 0)
    with pytest.raises(ValueError):
        cohort_retention(df, "user_id", "ts", max_offset=-1)


def test_cohort_retention_hand_case(spark):
    wk = 7 * 24 * 3600
    rows = [
        (1, 0, "a"), (1, wk + 5, "a"),        # cohort w0, active w0+w1
        (2, 10, "a"),                          # cohort w0, active w0 only
        (3, wk + 20, "a"), (3, 3 * wk, "a"),   # cohort w1, active w1+w3
    ]
    out = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_active"],
            r["cohort_size"],
            r["retention_pct"],
        )
        for r in cohort_retention(_ev(spark, rows), "user_id", "ts").collect()
    }
    # T0 = Mon 2024-01-01, conveniently a week boundary
    assert out[("2024-01-01", 0)] == (2, 2, 100.0)
    assert out[("2024-01-01", 1)] == (1, 2, 50.0)
    assert out[("2024-01-08", 0)] == (1, 1, 100.0)
    assert out[("2024-01-08", 2)] == (1, 1, 100.0)
    assert ("2024-01-01", 2) not in out


def test_funnel_invariant_under_partitioning(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    steps = [
        F.col("event_type") == "view",
        F.col("event_type") == "signup",
    ]
    one = sorted(
        tuple(r)
        for r in funnel_summary(ev.coalesce(1), "user_id", "ts", steps, 3600).collect()
    )
    many = sorted(
        tuple(r)
        for r in funnel_summary(
            ev.repartition(13), "user_id", "ts", steps, 3600
        ).collect()
    )
    assert one == many


def test_transition_matrix_hand_case(spark):
    from etl_instagram_spark.operators.funnel import transition_matrix

    rows = [
        (1, 0, "a"), (1, 1, "b"), (1, 2, "a"), (1, 2, "b"),  # ts tie: id order
        (2, 0, "a"), (2, 5, "b"),
    ]
    # event ids = insertion index so the (ts, id) total order is explicit
    df = spark.createDataFrame(
        [(u, __import__("datetime").datetime(2024, 1, 1, 0, 0, s), i, t)
         for i, (u, s, t) in enumerate(rows)],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    got = {
        (r["from_state"], r["to_state"]): (r["n_transitions"], r["prob"])
        for r in transition_matrix(df, "user_id", "ts", "event_type", "event_id").collect()
    }
    # user 1: a->b, b->a, a->b (tie resolved by id); user 2: a->b
    assert got == {("a", "b"): (3, 1.0), ("b", "a"): (1, 1.0)}
