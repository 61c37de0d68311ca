"""operators/kmv.py — cross-engine-exact k-minimum-values sketches.

Certification layers, mirroring test_sketches.py's HLL suite: DuckDB
replay of the k-set / summary / pairwise-overlap faces (bit-for-bit;
also the gate row docs_kmv_shingle_overlap in plans/q_docs.py), merge algebra (halves ==
whole, idempotent re-merge), accuracy envelopes (distinct estimate
within 3σ ≈ 3/√(k−2); planted-overlap Jaccard within a Binomial
envelope), the exact-below-k branch (k-set == value set ⇒ every column
exact), NULL semantics, and partitioning invariance."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.kmv import (
    kmv_merge,
    kmv_overlap,
    kmv_overlap_sql,
    kmv_sketch,
    kmv_sketch_sql,
    kmv_summary,
    kmv_summary_sql,
)


def _values_df(spark, n, tag="v", group="g"):
    """n distinct string values in one group."""
    return spark.range(n).select(
        F.lit(group).alias("g"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v"),
    )


def _duck(df_pandas, name="t"):
    con = duckdb.connect()
    con.register(name, df_pandas)
    return con


def test_sketch_bit_for_bit_vs_duckdb(spark):
    df = _values_df(spark, 5000)
    pdf = df.toPandas()
    sk = (
        kmv_sketch(df, "v", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    con = _duck(pdf)
    mirror = (
        con.sql(kmv_sketch_sql("v", "t", ["g"], k=64))
        .df()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    assert len(sk) == 64
    assert sk[mirror.columns].equals(mirror)


def test_summary_bit_for_bit_and_live_estimate_within_3_sigma(spark):
    n, k = 20000, 256
    df = _values_df(spark, n)
    summ = kmv_summary(df, "v", ["g"], k=k).toPandas()
    con = _duck(df.toPandas())
    mirror = con.sql(kmv_summary_sql("v", "t", ["g"], k=k)).df()
    s = summ.sort_values("g").reset_index(drop=True)
    m = mirror.sort_values("g").reset_index(drop=True)
    assert s[m.columns].equals(m)
    est = float(s.kmv_estimate[0])
    assert s.k_used[0] == k
    sigma = n / (k - 2) ** 0.5
    assert abs(est - n) <= 3 * sigma


def test_exact_below_k_branch(spark):
    df = _values_df(spark, 40)
    s = kmv_summary(df, "v", ["g"], k=256).toPandas()
    assert s.k_used[0] == 40
    assert float(s.kmv_estimate[0]) == 40.0


def test_merge_halves_equals_whole_and_idempotent(spark):
    df = _values_df(spark, 3000)
    whole = (
        kmv_sketch(df, "v", ["g"], k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    lo = kmv_sketch(df.filter(F.col("id") < 1500), "v", ["g"], k=64)
    hi = kmv_sketch(df.filter(F.col("id") >= 1500), "v", ["g"], k=64)
    merged = (
        kmv_merge(lo.unionByName(hi), ["g"], k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    assert merged.equals(whole[merged.columns])
    # idempotent: re-merging the whole with itself is a no-op
    again = (
        kmv_merge(
            kmv_sketch(df, "v", ["g"], k=64).unionByName(
                kmv_sketch(df, "v", ["g"], k=64)
            ),
            ["g"],
            k=64,
        )
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    assert again.equals(whole[again.columns])


def _two_group_df(spark, n_a, n_b, n_shared):
    """Group a = [0, n_a), group b = [n_a - n_shared, n_a - n_shared +
    n_b) — |a ∩ b| = n_shared over a shared integer id space."""
    a = spark.range(n_a).select(
        F.lit("a").alias("g"), F.col("id").cast("string").alias("v")
    )
    b = spark.range(n_a - n_shared, n_a - n_shared + n_b).select(
        F.lit("b").alias("g"), F.col("id").cast("string").alias("v")
    )
    return a.unionByName(b)


def test_overlap_exact_when_ksets_complete(spark):
    df = _two_group_df(spark, 300, 300, 100)
    sk = kmv_sketch(df, "v", ["g"], k=1024)
    o = kmv_overlap(sk, "g", k=1024).toPandas()
    assert len(o) == 1
    row = o.iloc[0]
    assert row.k_used == 500  # complete union
    assert row.matches == 100
    assert float(row.union_est) == 500.0
    assert float(row.intersection_est) == pytest.approx(100.0, abs=0.05)
    assert float(row.jaccard_est) == pytest.approx(0.2, abs=1e-6)


def test_overlap_live_estimates_within_envelope(spark):
    n_a = n_b = 6000
    n_shared = 3000  # true union 9000, jaccard 1/3
    k = 256
    df = _two_group_df(spark, n_a, n_b, n_shared)
    sk = kmv_sketch(df, "v", ["g"], k=k)
    o = kmv_overlap(sk, "g", k=k).toPandas().iloc[0]
    true_j = n_shared / (n_a + n_b - n_shared)
    # matches ~ Binomial(k, J): 4σ envelope on the proportion
    sigma_j = (true_j * (1 - true_j) / k) ** 0.5
    assert abs(float(o.jaccard_est) - true_j) <= 4 * sigma_j
    union = n_a + n_b - n_shared
    sigma_u = union / (k - 2) ** 0.5
    assert abs(float(o.union_est) - union) <= 4 * sigma_u


def test_overlap_bit_for_bit_vs_duckdb(spark):
    df = _two_group_df(spark, 2000, 1500, 400)
    sk = kmv_sketch(df, "v", ["g"], k=128)
    o = (
        kmv_overlap(sk, "g", k=128)
        .toPandas()
        .sort_values(["g_a", "g_b"])
        .reset_index(drop=True)
    )
    con = _duck(df.toPandas())
    m = (
        con.sql(kmv_overlap_sql("v", "t", "g", k=128))
        .df()
        .sort_values(["g_a", "g_b"])
        .reset_index(drop=True)
    )
    assert o[m.columns].equals(m)


def test_null_values_drop(spark):
    df = spark.createDataFrame(
        [("g", "x"), ("g", None), ("g", "y")], "g string, v string"
    )
    s = kmv_summary(df, "v", ["g"], k=64).toPandas()
    assert s.k_used[0] == 2


def test_partitioning_invariance(spark):
    df = _values_df(spark, 4000)
    one = (
        kmv_sketch(df.repartition(1), "v", ["g"], k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    many = (
        kmv_sketch(df.repartition(16), "v", ["g"], k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    assert one.equals(many[one.columns])


def test_k_validation_raises(spark):
    df = _values_df(spark, 10)
    with pytest.raises(ValueError, match="k must be"):
        kmv_sketch(df, "v", ["g"], k=4)


# ---------------------------------------------------------------------------
# continuous face (streaming/incremental.py): epoch-keyed k-set store,
# exactly-once BY ALGEBRA — the HLL register-store argument
# ---------------------------------------------------------------------------


def test_kmv_store_stream_equals_batch_and_replay_noop(spark, tmp_path):
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        apply_kmv_delta,
        kmv_read_sketch,
        kmv_read_summary,
    )

    df = _values_df(spark, 4000)
    wave1 = df.filter(F.col("v").substr(-1, 1).isin("0", "1", "2", "3", "4"))
    wave2 = df.subtract(wave1)
    store = MergeTable(spark, str(tmp_path / "kmv"), ["epoch_id", "g", "h"])
    apply_kmv_delta(store, wave1, 0, "v", ["g"], k=64)
    apply_kmv_delta(store, wave2, 1, "v", ["g"], k=64)

    batch = (
        kmv_sketch(df, "v", ["g"], k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    streamed = (
        kmv_read_sketch(store, ["g"], k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    assert streamed.equals(batch[streamed.columns])

    s_batch = kmv_summary(df, "v", ["g"], k=64).toPandas()
    s_stream = kmv_read_summary(store, ["g"], k=64).toPandas()
    cols = list(s_batch.columns)
    assert s_stream[cols].equals(s_batch)

    # replay epoch 1: identical rows upsert over themselves — no-op
    before = store.read().toPandas().sort_values(["epoch_id", "h"]).reset_index(drop=True)
    apply_kmv_delta(store, wave2, 1, "v", ["g"], k=64)
    after = store.read().toPandas().sort_values(["epoch_id", "h"]).reset_index(drop=True)
    assert after.equals(before)


def test_kmv_store_overlap_face_matches_batch(spark, tmp_path):
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        apply_kmv_delta,
        kmv_read_sketch,
    )

    df = _two_group_df(spark, 2000, 1500, 400)
    waves = [
        df.filter(F.pmod(F.crc32(F.col("v")), F.lit(2)) == i) for i in (0, 1)
    ]
    store = MergeTable(spark, str(tmp_path / "kmv2"), ["epoch_id", "g", "h"])
    for i, w in enumerate(waves):
        apply_kmv_delta(store, w, i, "v", ["g"], k=128)
    o_batch = (
        kmv_overlap(kmv_sketch(df, "v", ["g"], k=128), "g", k=128)
        .toPandas()
        .reset_index(drop=True)
    )
    o_stream = (
        kmv_overlap(kmv_read_sketch(store, ["g"], k=128), "g", k=128)
        .toPandas()
        .reset_index(drop=True)
    )
    assert o_stream[o_batch.columns].equals(o_batch)


def test_kmv_store_compaction_preserves_reads(spark, tmp_path):
    """compact_kmv_store folds epochs <= watermark into one k-set: the
    read faces are invariant (idempotent k-smallest-of-union), rows
    shrink, and the newest epoch may not be compacted."""
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        apply_kmv_delta,
        compact_kmv_store,
        kmv_read_sketch,
        kmv_read_summary,
    )

    df = _values_df(spark, 3000)
    waves = [
        df.filter(F.pmod(F.crc32(F.col("v")), F.lit(3)) == i)
        for i in (0, 1, 2)
    ]
    store = MergeTable(spark, str(tmp_path / "kmv_c"), ["epoch_id", "g", "h"])
    for i, w in enumerate(waves):
        apply_kmv_delta(store, w, i, "v", ["g"], k=64)

    want_sketch = (
        kmv_read_sketch(store, ["g"], k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    want_summary = kmv_read_summary(store, ["g"], k=64).toPandas()
    n_before = store.read().count()
    eliminated = compact_kmv_store(store, 1, ["g"], k=64)
    assert eliminated > 0
    assert store.read().count() == n_before - eliminated
    got_sketch = (
        kmv_read_sketch(store, ["g"], k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    assert got_sketch.equals(want_sketch[got_sketch.columns])
    assert kmv_read_summary(store, ["g"], k=64).toPandas().equals(want_summary)
    with pytest.raises(ValueError, match="newest epoch"):
        compact_kmv_store(store, 2, ["g"], k=64)


def test_stream_kmv_sketch_tick_drains_landing_dir(spark, tmp_path):
    """The AvailableNow tick face: two drained waves land in the store
    epoch-keyed, and the read summary equals one batch kmv_summary over
    everything landed (the HLL register store's contract)."""
    import json

    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        apply_kmv_delta,
        drain,
        kmv_read_summary,
    )

    def write_json(path, rows):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    wave1 = [{"g": "a", "v": f"x{i}"} for i in range(500)]
    wave2 = [{"g": "a", "v": f"x{250 + i}"} for i in range(500)] + [
        {"g": "b", "v": f"y{i}"} for i in range(60)
    ]
    landing = tmp_path / "rows"
    store = MergeTable(spark, str(tmp_path / "kmv_s"), ["epoch_id", "g", "h"])
    ckpt = str(tmp_path / "ckpt_kmv")
    DDL = "g string, v string"

    def tick(batch_df, epoch_id):
        apply_kmv_delta(store, batch_df, epoch_id, "v", ["g"], k=64)

    write_json(landing / "w1.json", wave1)
    drain(spark, str(landing), DDL, ckpt, tick)
    write_json(landing / "w2.json", wave2)
    drain(spark, str(landing), DDL, ckpt, tick)

    all_rows = spark.createDataFrame(
        [(r["g"], r["v"]) for r in wave1 + wave2], DDL
    )
    got = (
        kmv_read_summary(store, ["g"], k=64)
        .toPandas()
        .sort_values("g")
        .reset_index(drop=True)
    )
    want = (
        kmv_summary(all_rows, "v", ["g"], k=64)
        .toPandas()
        .sort_values("g")
        .reset_index(drop=True)
    )
    assert got[want.columns].equals(want)
    assert (
        store.read().select("epoch_id").distinct().count() == 2
    )  # one epoch per drained wave


def test_kmv_global_ungrouped_path_matches_duckdb(spark):
    """group_cols=None: stage B's window is partition-free but its
    frame is bounded at SALTS·k rows by stage A — the documented safe
    shape. Summary matches DuckDB and the estimate stays in envelope."""
    df = _values_df(spark, 9000).drop("g")
    s = kmv_summary(df, "v", None, k=128).toPandas()
    con = _duck(df.toPandas())
    m = con.sql(kmv_summary_sql("v", "t", None, k=128)).df()
    assert s[m.columns].equals(m)
    assert abs(float(s.kmv_estimate[0]) - 9000) <= 4 * 9000 / (128 - 2) ** 0.5


# ---------------------------------------------------------------------------
# bottom-k sampling face
# ---------------------------------------------------------------------------


def test_kmv_sample_fixed_size_deterministic_and_matches_duckdb(spark):
    from etl_instagram_spark.operators.kmv import kmv_sample, kmv_sample_sql

    df = _values_df(spark, 5000)
    s = kmv_sample(df, "v", ["g"], k=64).toPandas()
    assert len(s) == 64
    assert s.v.nunique() == 64
    # deterministic under partitioning
    s2 = kmv_sample(df.repartition(16), "v", ["g"], k=64).toPandas()
    assert sorted(s.v) == sorted(s2.v)
    # DuckDB mirror row-for-row
    con = _duck(df.toPandas())
    m = con.sql(kmv_sample_sql("t.g, t.v", "v", "t", ["g"], k=64)).df()
    assert sorted(m.v) == sorted(s.v)


def test_kmv_sample_keeps_all_rows_of_sampled_ids(spark):
    from etl_instagram_spark.operators.kmv import kmv_sample

    base = _values_df(spark, 400)
    dup = base.unionByName(base)  # every id appears twice
    s = kmv_sample(dup, "v", ["g"], k=32).toPandas()
    assert s.v.nunique() == 32
    assert len(s) == 64  # both rows of each sampled id


def test_kmv_sample_continuous_from_store_equals_batch(spark, tmp_path):
    """The documented composition: kmv_read_sketch output semijoined
    back IS the continuously-maintained sample — identical ids to one
    batch kmv_sample over everything the store absorbed."""
    from etl_instagram_spark.operators.kmv import kmv_sample
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.operators.sketches import hll_hash60
    from etl_instagram_spark.streaming.incremental import (
        apply_kmv_delta,
        kmv_read_sketch,
    )

    df = _values_df(spark, 3000)
    waves = [
        df.filter(F.pmod(F.crc32(F.col("v")), F.lit(2)) == i) for i in (0, 1)
    ]
    store = MergeTable(spark, str(tmp_path / "kmv_smp"), ["epoch_id", "g", "h"])
    for i, w in enumerate(waves):
        apply_kmv_delta(store, w, i, "v", ["g"], k=64)
    kset = kmv_read_sketch(store, ["g"], k=64).withColumnRenamed("h", "_h")
    cont = (
        df.withColumn("_h", hll_hash60(F.col("v")))
        .join(F.broadcast(kset), ["g", "_h"], "leftsemi")
        .drop("_h")
        .toPandas()
    )
    batch = kmv_sample(df, "v", ["g"], k=64).toPandas()
    assert sorted(cont.v) == sorted(batch.v)


def test_kmv_sample_semijoin_is_broadcast(spark):
    from etl_instagram_spark.operators.kmv import kmv_sample

    df = _values_df(spark, 2000)
    plan = (
        kmv_sample(df, "v", ["g"], k=32)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan


def _weighted_df(spark, n, groups=("a", "b")):
    """n ids per group with deterministic positive integer weights
    spanning three orders of magnitude."""
    rows = []
    for g in groups:
        for i in range(n):
            rows.append((g, f"{g}_id{i}", 1 + (i * 37) % 997))
    return spark.createDataFrame(rows, "g string, id string, w long")


def test_weighted_sample_bit_for_bit_vs_duckdb(spark):
    from etl_instagram_spark.operators.kmv import (
        kmv_weighted_sample,
        kmv_weighted_sample_sql,
    )

    df = _weighted_df(spark, 1200)
    got = (
        kmv_weighted_sample(df, "id", "w", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    assert len(got) == 128  # 64 per group
    con = _duck(df.toPandas())
    want = (
        con.sql(kmv_weighted_sample_sql("id", "w", "t", ["g"], k=64))
        .df()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    assert got[want.columns].equals(want)  # ids, weights, h, est floats

    # ungrouped path
    one = df.filter(F.col("g") == "a").drop("g")
    got1 = (
        kmv_weighted_sample(one, "id", "w", k=64)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    want1 = (
        con.sql(
            kmv_weighted_sample_sql(
                "id", "w", "(SELECT * FROM t WHERE g = 'a') u", None, k=64
            )
        )
        .df()
        .sort_values("h")
        .reset_index(drop=True)
    )
    assert got1[want1.columns].equals(want1)


def test_weighted_sample_subset_sum_estimator(spark):
    """Σ est_weight over the sample tracks the group's TRUE total
    weight (the priority-sampling estimator property) — realized
    relative error within a generous 4/√(k−1) envelope on this fixed
    hash draw; and the estimator never undershoots any single weight."""
    from etl_instagram_spark.operators.kmv import kmv_weighted_sample

    df = _weighted_df(spark, 2000)
    k = 256
    s = kmv_weighted_sample(df, "id", "w", ["g"], k=k).toPandas()
    truth = df.groupBy("g").agg(F.sum("w").alias("tw")).toPandas().set_index("g")
    for g in ("a", "b"):
        est = s[s.g == g].est_weight.sum()
        tw = float(truth.loc[g, "tw"])
        rel = abs(est - tw) / tw
        assert rel < 4 / (k - 1) ** 0.5, (g, est, tw, rel)
    assert (s.est_weight >= s.w - 1e-9).all()


def test_weighted_sample_complete_group_exact_and_scale_invariant(spark):
    from etl_instagram_spark.operators.kmv import kmv_weighted_sample

    small = _weighted_df(spark, 40, groups=("a",))
    s = kmv_weighted_sample(small, "id", "w", ["g"], k=64).toPandas()
    # ≤ k distinct ids → complete sample, est EXACTLY the weight
    assert len(s) == 40
    assert (s.est_weight == s.w.astype(float)).all()

    # scale invariance: doubling every weight keeps the SAME sample ids
    # (ranks scale uniformly) and doubles every est_weight exactly
    big = _weighted_df(spark, 2000)
    s1 = (
        kmv_weighted_sample(big, "id", "w", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    doubled = big.withColumn("w", F.col("w") * 2)
    s2 = (
        kmv_weighted_sample(doubled, "id", "w", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    assert list(s1.id) == list(s2.id)
    assert (s2.est_weight == 2 * s1.est_weight).all()

    # partitioning invariance
    s3 = (
        kmv_weighted_sample(big.repartition(16), "id", "w", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    assert s3.equals(s1)


def test_weighted_sample_loud_guards(spark):
    from etl_instagram_spark.operators.kmv import kmv_weighted_sample

    with pytest.raises(ValueError, match="k must be"):
        kmv_weighted_sample(_weighted_df(spark, 10), "id", "w", ["g"], k=4)
    zero = spark.createDataFrame(
        [("a", "x", 0), ("a", "y", 5)], "g string, id string, w long"
    )
    with pytest.raises(ValueError, match="positive"):
        kmv_weighted_sample(zero, "id", "w", ["g"], k=16)
    nan = spark.createDataFrame(
        [("a", "x", float("nan")), ("a", "y", 5.0)],
        "g string, id string, w double",
    )
    with pytest.raises(ValueError, match="positive"):
        kmv_weighted_sample(nan, "id", "w", ["g"], k=16)
    ambiguous = spark.createDataFrame(
        [("a", "x", 3), ("a", "x", 4)], "g string, id string, w long"
    )
    with pytest.raises(ValueError, match="more than one weight"):
        kmv_weighted_sample(ambiguous, "id", "w", ["g"], k=16)


def test_weighted_sample_continuous_store_equals_batch(spark, tmp_path):
    """The continuous face: epoch-keyed bottom-(k+1) states merged back
    equal one batch kmv_weighted_sample over everything absorbed —
    ids, weights, hashes, AND est floats; replay is a no-op; compaction
    preserves reads; a cross-epoch weight mutation refuses loudly."""
    from etl_instagram_spark.operators.kmv import kmv_weighted_sample
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        apply_wkmv_delta,
        compact_wkmv_store,
        kmv_weighted_read_sample,
    )

    df = _weighted_df(spark, 1500)
    waves = [
        df.filter(F.pmod(F.crc32(F.col("id")), F.lit(3)) == i) for i in range(3)
    ]
    store = MergeTable(spark, str(tmp_path / "wkmv"), ["epoch_id", "g", "h"])
    for i, w in enumerate(waves):
        apply_wkmv_delta(store, w, i, "id", "w", ["g"], k=64)

    batch = (
        kmv_weighted_sample(df, "id", "w", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    streamed = (
        kmv_weighted_read_sample(store, "id", "w", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    assert streamed[batch.columns].equals(batch)

    # replay epoch 2: identical rows upsert over themselves — no-op
    before = store.read().toPandas().sort_values(["epoch_id", "g", "h"]).reset_index(drop=True)
    apply_wkmv_delta(store, waves[2], 2, "id", "w", ["g"], k=64)
    after = store.read().toPandas().sort_values(["epoch_id", "g", "h"]).reset_index(drop=True)
    assert after.equals(before)

    # an id RE-SEEN in a later epoch is harmless by algebra
    apply_wkmv_delta(store, waves[0], 3, "id", "w", ["g"], k=64)
    streamed2 = (
        kmv_weighted_read_sample(store, "id", "w", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    assert streamed2[batch.columns].equals(batch)

    # compaction: reads invariant, rows shrink, newest-epoch guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="newest epoch"):
        compact_wkmv_store(store, 3, "id", "w", ["g"], k=64)
    n_before = store.read().count()
    eliminated = compact_wkmv_store(store, 2, "id", "w", ["g"], k=64)
    assert eliminated > 0 and store.read().count() == n_before - eliminated
    streamed3 = (
        kmv_weighted_read_sample(store, "id", "w", ["g"], k=64)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    assert streamed3[batch.columns].equals(batch)

    # cross-epoch weight mutation: loud refusal at read
    mutated = waves[0].withColumn("w", F.col("w") + 1)
    apply_wkmv_delta(store, mutated, 9, "id", "w", ["g"], k=64)
    with _pytest.raises(ValueError, match="different weights"):
        kmv_weighted_read_sample(store, "id", "w", ["g"], k=64).collect()


def test_weighted_sample_rejects_non_numeric_weights(spark):
    """A weight whose double-cast is NULL (non-numeric string) must
    trip the loud validation, not slip the filter and seat a NULL rank
    nulls-first into the sample."""
    from etl_instagram_spark.operators.kmv import kmv_weighted_sample

    df = spark.createDataFrame(
        [("a", "good", "2.0"), ("a", "bad", "abc"), ("a", "x", "1.0")],
        "g string, id string, w string",
    )
    with pytest.raises(ValueError, match="positive"):
        kmv_weighted_sample(df, "id", "w", ["g"], k=16)
