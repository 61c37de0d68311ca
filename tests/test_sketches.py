"""operators/sketches.py — cross-engine-exact HyperLogLog.

Certification layers: DuckDB replay of registers + exact harmonic sum +
estimate (also the gate row events_hll_distinct in plans/q_events.py),
merge algebra
(split == whole, bit-exact), accuracy envelopes (raw in its valid
range, corrected at small n), NULL semantics, partitioning invariance,
and the continuous register store (stream == batch, replay no-op)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.sketches import (
    hll_estimate_corrected,
    hll_merge,
    hll_registers,
    hll_summary,
    hll_summary_sql,
)


def test_hll_matches_duckdb_bit_for_bit(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    got = sorted(
        tuple(r)
        for r in hll_summary(ev, "event_id", ["event_type"], b=9).collect()
    )
    con = duckdb.connect()
    want = sorted(
        con.sql(
            hll_summary_sql(
                "event_id", f"'{sf_smoke}/events.parquet'", ["event_type"], b=9
            )
        ).fetchall()
    )
    con.close()
    assert got == want


def test_hll_merge_of_halves_equals_whole(spark, sf_smoke):
    """The mergeable-summary contract: registers of two disjoint halves,
    max-merged, give EXACTLY the whole's registers (and so the same
    sum_scaled/estimate) — the property that makes per-shard sketches
    and continuous maintenance correct by algebra."""
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    lo = hll_registers(ev.filter("event_id % 2 = 0"), "event_id", b=9)
    hi = hll_registers(ev.filter("event_id % 2 = 1"), "event_id", b=9)
    merged = sorted(
        tuple(r) for r in hll_merge(lo.unionByName(hi)).collect()
    )
    whole = sorted(
        tuple(r) for r in hll_registers(ev, "event_id", b=9).collect()
    )
    assert merged == whole


def test_hll_raw_accuracy_in_valid_range(spark, sf_smoke):
    """b=9 (m=512): sf0.001 has 6000 distinct event_ids > 2.5m, inside
    the raw estimator's range; 1.04/sqrt(512) ≈ 4.6 % std error — allow
    3 sigma."""
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    row = hll_summary(ev, "event_id", b=9).collect()[0]
    n = ev.select("event_id").distinct().count()
    assert abs(row["hll_estimate"] - n) / n < 0.14


def test_hll_corrected_accuracy_small_cardinality(spark):
    """Linear-counting correction at n ≪ m: within a few percent."""
    df = spark.range(100).select(F.col("id").alias("v"))
    row = hll_summary(df, "v").collect()[0]
    corr = hll_estimate_corrected(row["buckets_hit"], row["sum_scaled"])
    assert abs(corr - 100) / 100 < 0.05
    # raw (uncorrected) at tiny n is known-biased — that's WHY the
    # corrected form exists; certified columns stay ln-free
    assert row["hll_estimate"] > 100


def test_hll_ignores_nulls_and_validates_b(spark):
    df = spark.createDataFrame(
        [(1,), (2,), (None,), (2,)], "v int"
    )
    regs = hll_registers(df, "v")
    n_hashed = regs.count()
    assert 1 <= n_hashed <= 2  # 2 distinct non-null values, maybe 1 bucket
    with pytest.raises(ValueError):
        hll_registers(df, "v", b=5)
    with pytest.raises(ValueError):
        hll_registers(df, "v", b=20)


def test_hll_invariant_under_partitioning(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    one = sorted(
        tuple(r)
        for r in hll_summary(ev.coalesce(1), "user_id", ["event_type"]).collect()
    )
    many = sorted(
        tuple(r)
        for r in hll_summary(
            ev.repartition(13), "user_id", ["event_type"]
        ).collect()
    )
    assert one == many


def test_stream_hll_equals_batch_and_replays(spark, tmp_path):
    """The continuous register store: after two drained waves the read
    face equals one batch hll_summary over the union, and re-applying a
    committed epoch changes nothing (max-merge idempotence)."""
    import json

    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        apply_hll_delta,
        drain,
        hll_read_summary,
    )

    def write_json(path, rows):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    wave1 = [{"k": "a", "v": i} for i in range(300)]
    wave2 = [{"k": "a", "v": 150 + i} for i in range(300)] + [
        {"k": "b", "v": i} for i in range(40)
    ]
    landing = tmp_path / "rows"
    store = MergeTable(spark, str(tmp_path / "hll_regs"), ["epoch_id", "k", "bucket"])
    ckpt = str(tmp_path / "ckpt_hll")
    DDL = "k string, v long"

    def tick(batch_df, epoch_id):
        apply_hll_delta(store, batch_df, epoch_id, "v", ["k"])

    write_json(landing / "w1.json", wave1)
    drain(spark, str(landing), DDL, ckpt, tick)
    write_json(landing / "w2.json", wave2)
    drain(spark, str(landing), DDL, ckpt, tick)

    all_rows = spark.createDataFrame(
        [(r["k"], r["v"]) for r in wave1 + wave2], DDL
    )
    got = sorted(tuple(r) for r in hll_read_summary(store, ["k"]).collect())
    want = sorted(tuple(r) for r in hll_summary(all_rows, "v", ["k"]).collect())
    assert got == want

    before = sorted(map(tuple, store.read().collect()))
    batch1 = spark.createDataFrame([(r["k"], r["v"]) for r in wave1], DDL)
    apply_hll_delta(store, batch1, 0, "v", ["k"])
    assert sorted(map(tuple, store.read().collect())) == before
    assert sorted(tuple(r) for r in hll_read_summary(store, ["k"]).collect()) == want


def test_cm_sketch_overcount_guarantee_and_cross_engine(spark):
    """CM estimates: ≥ true count always, exact at collision-free
    width, merge(sketch(A), sketch(B)) == sketch(A∪B), bit-identical
    under repartitioning, and the full register set + lookups replay
    in DuckDB."""
    import duckdb

    from etl_instagram_spark.operators.sketches import (
        cm_lookup,
        cm_lookup_sql,
        cm_merge,
        cm_sketch,
        cm_sketch_sql,
    )

    rows = [(f"k{i % 17}",) for i in range(500)] + [("hot",)] * 100
    df = spark.createDataFrame(rows, "v string")
    true = {}
    for (x,) in rows:
        true[x] = true.get(x, 0) + 1
    w, d = 64, 4
    sk = cm_sketch(df, "v", w=w, d=d)
    qs = spark.createDataFrame([(k,) for k in true], "v string")
    est = {
        r["v"]: r["cm_estimate"]
        for r in cm_lookup(sk, qs, "v", w=w, d=d).collect()
    }
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t
    # absent key: estimate may be > 0 (collisions) but never negative,
    # and at huge width it is exactly 0 and every key is exact
    wide = cm_sketch(df, "v", w=2**20, d=d)
    exact = {
        r["v"]: r["cm_estimate"]
        for r in cm_lookup(wide, qs, "v", w=2**20, d=d).collect()
    }
    assert exact == true
    miss = cm_lookup(
        wide,
        spark.createDataFrame([("never-seen",)], "v string"),
        "v",
        w=2**20,
        d=d,
    ).collect()[0]["cm_estimate"]
    assert miss == 0
    # mergeability: sum of half-sketches == whole sketch
    a = spark.createDataFrame(rows[:300], "v string")
    b = spark.createDataFrame(rows[300:], "v string")
    merged = cm_merge(
        cm_sketch(a, "v", w=w, d=d).unionByName(cm_sketch(b, "v", w=w, d=d))
    )
    whole = sorted(tuple(r) for r in sk.collect())
    assert sorted(tuple(r) for r in merged.collect()) == whole
    assert (
        sorted(tuple(r) for r in cm_sketch(df.repartition(9), "v", w=w, d=d).collect())
        == whole
    )
    # cross-engine: registers and lookups replay in DuckDB
    con = duckdb.connect()
    values = ",".join("('" + x + "')" for (x,) in rows)
    duck_sk = sorted(
        con.sql(
            cm_sketch_sql("v", f"(SELECT * FROM (VALUES {values}) t(v))", w=w, d=d)
        ).fetchall()
    )
    assert duck_sk == whole
    qvalues = ",".join("('" + k + "')" for k in true)
    duck_est = dict(
        con.sql(
            cm_lookup_sql(
                cm_sketch_sql(
                    "v", f"(SELECT * FROM (VALUES {values}) t(v))", w=w, d=d
                ),
                f"SELECT v FROM (VALUES {qvalues}) t(v)",
                "v",
                w=w,
                d=d,
            )
        ).fetchall()
    )
    con.close()
    assert duck_est == est


def test_cm_sketch_validation_and_groups(spark):
    import pytest

    from etl_instagram_spark.operators.sketches import cm_lookup, cm_sketch

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"), ("b", None)],
        "g string, v string",
    )
    with pytest.raises(ValueError):
        cm_sketch(df, "v", w=1)
    with pytest.raises(ValueError):
        cm_sketch(df, "v", d=0)
    sk = cm_sketch(df, "v", ["g"], w=32, d=3)
    qs = df.select("g", "v").distinct().filter(F.col("v").isNotNull())
    est = {
        (r["g"], r["v"]): r["cm_estimate"]
        for r in cm_lookup(sk, qs, "v", ["g"], w=32, d=3).collect()
    }
    # per-group counters are independent: 'x' in g=b is 1, not 3
    assert est[("a", "x")] >= 2 and est[("b", "x")] >= 1
    # NULL values dropped from the sketch (no crash, no NULL counters)
    assert all(r["col"] is not None for r in sk.collect())


def test_cm_epoch_store_exactly_once_and_split_independent(spark, tmp_path):
    """The continuous CM face: any batch split collapses to the same
    registers as one batch, and a replayed epoch upserts identical rows
    (exactly-once by the epoch key, the rollup-delta pattern)."""
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.operators.sketches import cm_lookup, cm_sketch
    from etl_instagram_spark.streaming.incremental import (
        apply_cm_delta,
        cm_read_registers,
    )

    rows = [(f"k{i % 11}",) for i in range(300)]
    df = spark.createDataFrame(rows, "v string")
    store = MergeTable(
        spark, str(tmp_path / "cm"), ["epoch_id", "j", "col"]
    )
    w, d = 64, 3
    thirds = [rows[:100], rows[100:180], rows[180:]]
    for e, chunk in enumerate(thirds):
        apply_cm_delta(
            store, spark.createDataFrame(chunk, "v string"), e, "v", w=w, d=d
        )
    before = sorted(map(tuple, store.read().collect()))
    # replay epoch 1: identical rows upserted over themselves
    apply_cm_delta(
        store, spark.createDataFrame(thirds[1], "v string"), 1, "v", w=w, d=d
    )
    assert sorted(map(tuple, store.read().collect())) == before
    collapsed = sorted(
        tuple(r) for r in cm_read_registers(store).collect()
    )
    whole = sorted(
        tuple(r) for r in cm_sketch(df, "v", w=w, d=d).collect()
    )
    assert collapsed == whole
    qs = spark.createDataFrame([(f"k{i}",) for i in range(11)], "v string")
    est = {
        r["v"]: r["cm_estimate"]
        for r in cm_lookup(cm_read_registers(store), qs, "v", w=w, d=d).collect()
    }
    true = {}
    for (x,) in rows:
        true[x] = true.get(x, 0) + 1
    assert all(est[k] >= t for k, t in true.items())


# ---------------------------------------------------------------------------
# Dyadic-CM quantile sketch (the r12 mergeable-quantile family)
# ---------------------------------------------------------------------------


def _dcm_vals():
    # deterministic multimodal-ish integer stream over two groups
    return [("a" if i % 3 else "b", (i * 37) % 1000) for i in range(2000)]


def test_dcm_registers_and_quantiles_match_duckdb_bit_for_bit(spark):
    """Full cross-engine replay: the register rows AND the b-round
    quantile bit-descent land on identical integers in DuckDB — the
    property KLL's order-dependent compaction cannot offer (module
    docstring), and the reason this engine's quantile sketch is
    dyadic-CM."""
    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles,
        dcm_quantiles_sql,
        dcm_sketch,
        dcm_sketch_sql,
    )

    vals = _dcm_vals()
    df = spark.createDataFrame(vals, "grp string, v long")
    w, d, b = 256, 3, 10
    got_regs = sorted(
        tuple(r) for r in dcm_sketch(df, "v", ["grp"], w=w, d=d, b=b).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(grp VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", vals)
    duck_regs = sorted(
        (r[0], int(r[1]), int(r[2]), int(r[3]), int(r[4]))
        for r in con.sql(
            dcm_sketch_sql("v", "t", ["grp"], w=w, d=d, b=b)
        ).fetchall()
    )
    assert duck_regs == [(g, int(l), int(j), int(c), int(n)) for g, l, j, c, n in got_regs]

    qs = [(1, 4), (1, 2), (3, 4), (9, 10)]
    sk = dcm_sketch(df, "v", ["grp"], w=w, d=d, b=b)
    got_q = sorted(
        tuple(r)
        for r in dcm_quantiles(sk, qs, ["grp"], w=w, d=d, b=b).collect()
    )
    ctes = dcm_quantiles_sql(
        dcm_sketch_sql("v", "t", ["grp"], w=w, d=d, b=b),
        qs,
        ["grp"],
        w=w,
        d=d,
        b=b,
    )
    duck_q = sorted(
        (r[0], *(int(x) for x in r[1:]))
        for r in con.sql(f"WITH {ctes} SELECT * FROM qout").fetchall()
    )
    con.close()
    assert duck_q == [(g, *(int(x) for x in rest)) for g, *rest in got_q]


def test_dcm_quantile_accuracy_and_rank_overestimate(spark):
    """Counters only over-count → rank_est(x) ≥ true rank(x) for EVERY
    probe; at a generous width the descent answers are the exact
    order statistics."""
    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles,
        dcm_rank,
        dcm_sketch,
    )

    vals = _dcm_vals()
    df = spark.createDataFrame(vals, "grp string, v long")
    w, d, b = 2048, 4, 10
    sk = dcm_sketch(df, "v", ["grp"], w=w, d=d, b=b)
    ranks = dcm_rank(sk, df, "v", ["grp"], w=w, d=d, b=b).collect()
    by_grp: dict[str, list[int]] = {}
    for g, v in vals:
        by_grp.setdefault(g, []).append(v)
    for r in ranks:
        true = sum(1 for x in by_grp[r["grp"]] if x < r["v"])
        assert r["rank_est"] >= true
    got = {
        (r["grp"], r["q_num"], r["q_den"]): (r["q_value"], r["target"], r["n"])
        for r in dcm_quantiles(
            sk, [(1, 4), (1, 2), (3, 4)], ["grp"], w=w, d=d, b=b
        ).collect()
    }
    for g, xs in by_grp.items():
        xs = sorted(xs)
        for nu, de in [(1, 4), (1, 2), (3, 4)]:
            q_value, target, n = got[(g, nu, de)]
            assert n == len(xs)
            assert target == (nu * n + de - 1) // de
            exact = xs[target - 1]
            # rank error at w=2048 over ~1.3k items: allow a whisker
            lo = sum(1 for x in xs if x < q_value)
            hi = sum(1 for x in xs if x <= q_value)
            assert lo < target <= hi or abs(q_value - exact) <= 2


def test_dcm_merge_of_halves_equals_whole_and_validation(spark):
    from etl_instagram_spark.operators.sketches import (
        dcm_merge,
        dcm_sketch,
        dcm_total,
    )

    vals = _dcm_vals()
    df = spark.createDataFrame(vals, "grp string, v long")
    w, d, b = 128, 3, 10
    whole = sorted(
        tuple(r) for r in dcm_sketch(df, "v", ["grp"], w=w, d=d, b=b).collect()
    )
    halves = dcm_sketch(
        df.filter("v % 2 = 0"), "v", ["grp"], w=w, d=d, b=b
    ).unionByName(
        dcm_sketch(df.filter("v % 2 = 1"), "v", ["grp"], w=w, d=d, b=b)
    )
    merged = sorted(
        tuple(r) for r in dcm_merge(halves, ["grp"]).collect()
    )
    assert merged == whole
    totals = {
        r["grp"]: r["n"]
        for r in dcm_total(
            dcm_sketch(df, "v", ["grp"], w=w, d=d, b=b), ["grp"]
        ).collect()
    }
    from collections import Counter

    assert totals == Counter(g for g, _ in vals)
    # loud out-of-range guard (both engines), NULLs drop
    import pyspark.sql.utils  # noqa: F401

    bad = spark.createDataFrame([(1 << 12,)], "v long")
    with pytest.raises(Exception, match="out of"):
        dcm_sketch(bad, "v", b=10).collect()
    con = duckdb.connect()
    from etl_instagram_spark.operators.sketches import dcm_sketch_sql

    con.execute("CREATE TABLE bad(v BIGINT); INSERT INTO bad VALUES (4096)")
    with pytest.raises(Exception, match="out of range"):
        con.sql(dcm_sketch_sql("v", "bad", b=10)).fetchall()
    con.close()
    nulls = spark.createDataFrame([(None,), (5,)], "v long")
    from etl_instagram_spark.operators.sketches import dcm_total as _tot

    got_n = _tot(dcm_sketch(nulls, "v", b=10)).collect()[0]["n"]
    assert got_n == 1
    with pytest.raises(ValueError):
        dcm_sketch(df, "v", b=50)
    from etl_instagram_spark.operators.sketches import dcm_quantiles

    with pytest.raises(ValueError):
        dcm_quantiles(dcm_sketch(df, "v", b=10), [(3, 2)], b=10)


def test_dcm_epoch_store_stream_equals_batch_and_replays(spark, tmp_path):
    """Continuous quantile face: epoch-keyed register deltas collapse
    to the whole-stream sketch for any batch split, and a replayed
    epoch is a no-op (identical rows upserted over themselves) — so
    quantile answers from the store equal the batch answers exactly."""
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles,
        dcm_sketch,
    )
    from etl_instagram_spark.streaming.incremental import (
        apply_dcm_delta,
        dcm_read_registers,
    )

    vals = [( (i * 53) % 512,) for i in range(900)]
    df = spark.createDataFrame(vals, "v long")
    w, d, b = 128, 3, 9
    store = MergeTable(
        spark, str(tmp_path / "dcm"), ["epoch_id", "lvl", "j", "col"]
    )
    thirds = [vals[:300], vals[300:600], vals[600:]]
    for e, chunk in enumerate(thirds):
        apply_dcm_delta(
            store,
            spark.createDataFrame(chunk, "v long"),
            e,
            "v",
            w=w,
            d=d,
            b=b,
        )
    before = sorted(map(tuple, store.read().collect()))
    apply_dcm_delta(
        store,
        spark.createDataFrame(thirds[1], "v long"),
        1,
        "v",
        w=w,
        d=d,
        b=b,
    )
    assert sorted(map(tuple, store.read().collect())) == before
    collapsed = dcm_read_registers(store)
    stream_q = sorted(
        tuple(r)
        for r in dcm_quantiles(collapsed, [(1, 2), (9, 10)], w=w, d=d, b=b).collect()
    )
    batch_q = sorted(
        tuple(r)
        for r in dcm_quantiles(
            dcm_sketch(df, "v", w=w, d=d, b=b), [(1, 2), (9, 10)], w=w, d=d, b=b
        ).collect()
    )
    assert stream_q == batch_q


def test_dcm_quantiles_driver_equals_distributed(spark):
    """The driver-side bit descent (dcm_quantiles_driver — one collect
    of the bounded register frame + pure-Python int64 walk over the
    same md5 kernel) answers EXACTLY what the distributed descent
    answers, grouped and ungrouped, on real event values — and the
    collect guard rejects register frames past max_collect_rows
    loudly instead of pulling them to the driver."""
    import pytest as _pytest

    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles,
        dcm_quantiles_driver,
        dcm_sketch,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v"),
    )
    qs = [(1, 4), (1, 2), (3, 4), (19, 20)]

    sk = dcm_sketch(ev, "v", ["event_type"]).localCheckpoint(eager=True)
    dist = sorted(
        map(tuple, dcm_quantiles(sk, qs, ["event_type"]).collect())
    )
    drv = sorted(
        (r["event_type"], r["q_num"], r["q_den"], r["n"], r["target"], r["q_value"])
        for r in dcm_quantiles_driver(sk, qs, ["event_type"])
    )
    assert drv == dist

    sk0 = dcm_sketch(ev, "v").localCheckpoint(eager=True)
    dist0 = sorted(map(tuple, dcm_quantiles(sk0, qs).collect()))
    drv0 = sorted(
        (r["q_num"], r["q_den"], r["n"], r["target"], r["q_value"])
        for r in dcm_quantiles_driver(sk0, qs)
    )
    assert drv0 == dist0

    with _pytest.raises(ValueError, match="max_collect_rows"):
        dcm_quantiles_driver(sk, qs, ["event_type"], max_collect_rows=10)
    with _pytest.raises(ValueError, match="quantile"):
        dcm_quantiles_driver(sk, [(3, 2)], ["event_type"])


def test_dcm_driver_guard_rejects_group_explosion(spark):
    """The driver descent under a GENUINE register explosion (r13
    VERDICT task #6): sketching per-USER (a high-cardinality group
    column — thousands of groups instead of event_type's handful)
    produces a register frame the driver face must refuse at any
    budget below its size — via the bounded limit(max+1) probe, never
    by pulling the frame in and OOMing. The documented sizing rule
    (SURVEY §8: max_collect_rows ≥ groups · d·w·b always suffices;
    the frame is sparser in practice) is asserted against the real
    frame, and a budget at exactly the frame size succeeds."""
    import pytest as _pytest

    from etl_instagram_spark.operators.sketches import (
        DCM_B,
        DCM_D,
        DCM_W,
        dcm_quantiles_driver,
        dcm_sketch,
    )

    ev = spark.range(6000).select(
        (F.col("id") % 2000).alias("user_id"),
        (F.col("id") % 37 + 1).cast("long").alias("v"),
    )
    sk = dcm_sketch(ev, "v", ["user_id"]).localCheckpoint(eager=True)
    n_rows = sk.count()
    n_groups = sk.select("user_id").distinct().count()
    assert n_groups > 100, "test premise: genuinely high-cardinality"
    # the sizing rule is a true upper bound on the real frame
    assert n_rows <= n_groups * DCM_D * DCM_W * DCM_B
    with _pytest.raises(ValueError, match="max_collect_rows"):
        dcm_quantiles_driver(
            sk, [(1, 2)], ["user_id"], max_collect_rows=n_rows - 1
        )
    # at the rule-sized budget the same call answers (spot-check one
    # group against the distributed descent)
    out = dcm_quantiles_driver(
        sk, [(1, 2)], ["user_id"], max_collect_rows=n_rows
    )
    assert len(out) == n_groups


def test_dcm_weighted_registers_equal_exploded_units_and_duckdb(spark):
    """Weighted dcm registers are BIT-IDENTICAL to unweighted registers
    over weight-many unit rows (a weight-w row is w unit rows to pure
    counting algebra), the DuckDB weighted mirror lands on the same
    counters, weighted quantiles answer token-weighted medians through
    the unchanged descent, and bad weights raise loudly in BOTH
    engines."""
    import duckdb
    import pytest as _pytest

    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles,
        dcm_quantiles_driver,
        dcm_sketch,
        dcm_sketch_sql,
    )

    rows = [(1, "a", 3), (5, "a", 1), (9, "a", 6), (2, "b", 10), (7, "b", 2)]
    df = spark.createDataFrame(rows, "v long, g string, wt long")
    weighted = sorted(
        map(tuple, dcm_sketch(df, "v", ["g"], b=4, weight_col="wt").collect())
    )
    exploded = df.withColumn(
        "__i", F.explode(F.sequence(F.lit(1), F.col("wt")))
    ).select("v", "g")
    unit = sorted(map(tuple, dcm_sketch(exploded, "v", ["g"], b=4).collect()))
    assert weighted == unit

    values = ",".join(f"({v},'{g}',{wt})" for v, g, wt in rows)
    sql = dcm_sketch_sql(
        "v", f"(SELECT * FROM (VALUES {values}) t(v, g, wt))", ["g"],
        b=4, weight_expr="wt",
    )
    con = duckdb.connect()
    duck = sorted(con.sql(sql).fetchall())
    assert duck == weighted

    # token-weighted median: group a holds weights 3@1, 1@5, 6@9 — half
    # of the 10 units sit at value 9, so the weighted median is 9 while
    # the unweighted row median is 5
    sk = dcm_sketch(df, "v", ["g"], b=4, weight_col="wt")
    med = {
        r["g"]: r["q_value"]
        for r in dcm_quantiles(sk, [(1, 2)], ["g"], b=4).collect()
    }
    assert med == {"a": 9, "b": 2}
    drv = {
        r["g"]: r["q_value"]
        for r in dcm_quantiles_driver(sk, [(1, 2)], ["g"], b=4)
    }
    assert drv == med

    bad = spark.createDataFrame([(1, "a", 0)], "v long, g string, wt long")
    with _pytest.raises(Exception, match="positive int64"):
        dcm_sketch(bad, "v", ["g"], b=4, weight_col="wt").collect()
    bad_sql = dcm_sketch_sql(
        "v", "(SELECT 1 AS v, 'a' AS g, 0 AS wt)", ["g"], b=4,
        weight_expr="wt",
    )
    with _pytest.raises(Exception, match="positive int64"):
        con.sql(bad_sql).fetchall()
    con.close()


def test_cm_weighted_registers_equal_exploded_units_and_duckdb(spark):
    """Weighted CM counters are BIT-IDENTICAL to unweighted counters
    over weight-many unit rows, the DuckDB weighted mirror matches,
    cm_lookup answers per-key TOTALS with the one-sided est >= true
    guarantee intact, and bad weights raise loudly in both engines."""
    import duckdb
    import pytest as _pytest

    from etl_instagram_spark.operators.sketches import (
        cm_lookup,
        cm_sketch,
        cm_sketch_sql,
    )

    rows = [("u1", "a", 7), ("u2", "a", 3), ("u1", "a", 5), ("u3", "b", 11)]
    df = spark.createDataFrame(rows, "k string, g string, wt long")
    weighted = sorted(
        map(tuple, cm_sketch(df, "k", ["g"], w=64, d=3, weight_col="wt").collect())
    )
    exploded = df.withColumn(
        "__i", F.explode(F.sequence(F.lit(1), F.col("wt")))
    ).select("k", "g")
    unit = sorted(map(tuple, cm_sketch(exploded, "k", ["g"], w=64, d=3).collect()))
    assert weighted == unit

    values = ",".join(f"('{k}','{g}',{wt})" for k, g, wt in rows)
    sql = cm_sketch_sql(
        "k", f"(SELECT * FROM (VALUES {values}) t(k, g, wt))", ["g"],
        w=64, d=3, weight_expr="wt",
    )
    con = duckdb.connect()
    assert sorted(con.sql(sql).fetchall()) == weighted

    # totals with the one-sided guarantee: est >= true per-key total
    sk = cm_sketch(df, "k", ["g"], w=64, d=3, weight_col="wt")
    qs = df.select("g", "k").distinct()
    est = {
        (r["g"], r["k"]): r["cm_estimate"]
        for r in cm_lookup(sk, qs, "k", ["g"], w=64, d=3).collect()
    }
    true = {("a", "u1"): 12, ("a", "u2"): 3, ("b", "u3"): 11}
    assert set(est) == set(true)
    assert all(est[k] >= true[k] for k in true)

    bad = spark.createDataFrame([("u1", "a", -1)], "k string, g string, wt long")
    with _pytest.raises(Exception, match="positive int64"):
        cm_sketch(bad, "k", ["g"], w=64, d=3, weight_col="wt").collect()
    bad_sql = cm_sketch_sql(
        "k", "(SELECT 'u1' AS k, 'a' AS g, 0 AS wt)", ["g"],
        w=64, d=3, weight_expr="wt",
    )
    with _pytest.raises(Exception, match="positive int64"):
        con.sql(bad_sql).fetchall()
    con.close()


def test_hll_store_compaction_preserves_reads(spark, tmp_path):
    """compact_hll_store folds epochs <= watermark into one register
    set: the read face is invariant (max-merge algebra), rows shrink,
    and the newest epoch may not be compacted (guard raises)."""
    import pytest

    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        apply_hll_delta,
        compact_hll_store,
        hll_read_summary,
    )

    store = MergeTable(
        spark, str(tmp_path / "hll_c"), ["epoch_id", "k", "bucket"]
    )
    for e in range(3):
        batch = spark.createDataFrame(
            [("a", e * 200 + i) for i in range(300)], "k string, v long"
        )
        apply_hll_delta(store, batch, e, "v", ["k"])

    want = sorted(tuple(r) for r in hll_read_summary(store, ["k"]).collect())
    n_before = store.read().count()
    eliminated = compact_hll_store(store, 1, ["k"])
    assert eliminated > 0
    assert store.read().count() == n_before - eliminated
    got = sorted(tuple(r) for r in hll_read_summary(store, ["k"]).collect())
    assert got == want
    assert set(
        r["epoch_id"] for r in store.read().select("epoch_id").distinct().collect()
    ) == {1, 2}
    with pytest.raises(ValueError, match="newest epoch"):
        compact_hll_store(store, 2, ["k"])


def test_dcm_quantiles_d1_single_counter(spark):
    """d=1 is a legal config (one counter row per node) — the one-plan
    descent must not emit a 1-arg least(), which Spark rejects at
    analysis (r14 advice; the old per-round join loop handled d=1)."""
    from etl_instagram_spark.operators.sketches import dcm_quantiles, dcm_sketch

    df = spark.createDataFrame(
        [("a", v) for v in range(100)], "grp string, v long"
    )
    w, d, b = 4096, 1, 8
    sk = dcm_sketch(df, "v", ["grp"], w=w, d=d, b=b)
    got = {
        (r["q_num"], r["q_den"]): (r["q_value"], r["target"], r["n"])
        for r in dcm_quantiles(
            sk, [(1, 4), (1, 2), (3, 4)], ["grp"], w=w, d=d, b=b
        ).collect()
    }
    xs = list(range(100))
    for nu, de in [(1, 4), (1, 2), (3, 4)]:
        q_value, target, n = got[(nu, de)]
        assert n == 100 and target == (nu * 100 + de - 1) // de
        # rank error at w=4096 over 100 items: exact or a whisker off
        assert abs(q_value - xs[target - 1]) <= 2
