"""operators/sampling.py pps_sample — systematic PPS weighted sampling.

Cross-engine value parity also runs via the non-gate row docs_pps_sample
(plans/extras_docs.py, tests/test_rotated_parity.py); here: the exact-total / floor-ceil-share
grid properties, multiplicity on dominating weights, partitioning
invariance, DuckDB equality on a hand corpus, and validation."""

from __future__ import annotations

def test_pps_sample_exact_grid_and_cross_engine(spark):
    """Systematic PPS: total copies == n exactly, per-row copies within
    floor/ceil of the proportional share, bit-identical under
    repartitioning, and the DuckDB mirror reproduces the identical
    sample (same int64 grid walk over the same hash order)."""
    import duckdb

    from etl_instagram_spark.operators.sampling import (
        pps_sample,
        pps_sample_sql,
    )

    rows = [(i, 1 + (i * 7) % 50) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "id long, w long")
    n = 40
    got = {r["id"]: r["n_copies"] for r in pps_sample(df, "id", "w", n).collect()}
    assert sum(got.values()) == n
    W = sum(w for _, w in rows)
    for i, w in rows:
        share = n * w / W
        c = got.get(i, 0)
        assert int(share) <= c <= int(share) + 1, (i, w, c, share)
    again = {
        r["id"]: r["n_copies"]
        for r in pps_sample(df.repartition(13), "id", "w", n).collect()
    }
    assert again == got
    con = duckdb.connect()
    values = ",".join(f"({i},{w})" for i, w in rows)
    ctes = pps_sample_sql(
        f"SELECT * FROM (VALUES {values}) t(id, w)", "id", "w", n
    )
    duck = dict(con.sql(f"WITH {ctes} SELECT id, n_copies FROM pps").fetchall())
    con.close()
    assert duck == got
    # a dominating weight is hit multiple times; sum still == n
    big = spark.createDataFrame(
        [(1, 1000), (2, 1), (3, 1)], "id long, w long"
    )
    got_big = {
        r["id"]: r["n_copies"] for r in pps_sample(big, "id", "w", 10).collect()
    }
    assert sum(got_big.values()) == 10
    assert got_big[1] >= 9


def test_pps_sample_validation(spark):
    import pytest

    from etl_instagram_spark.operators.sampling import pps_sample

    df = spark.createDataFrame([(1, 5), (2, 0)], "id long, w long")
    with pytest.raises(ValueError, match="non-positive"):
        pps_sample(df, "id", "w", 3)
    nul = spark.createDataFrame([(1, 5), (2, None)], "id long, w long")
    with pytest.raises(ValueError, match="non-positive"):
        pps_sample(nul, "id", "w", 3)
    ok = spark.createDataFrame([(1, 2**40), (2, 2**40)], "id long, w long")
    with pytest.raises(ValueError, match="overflow"):
        pps_sample(ok, "id", "w", 2**25)
    with pytest.raises(ValueError, match="n must be"):
        pps_sample(ok, "id", "w", 0)


def test_pps_sample_rejects_null_ids_both_engines(spark):
    """NULL ids are rejected LOUDLY on both engines (r12 ADVICE #2):
    Spark's hash32 propagates NULL, and silently dropping those rows
    would shrink the sampling frame and W while the SQL mirror kept
    them in ptot/pcum — a latent cross-engine divergence. Both faces
    now raise instead."""
    import duckdb
    import pytest

    from etl_instagram_spark.operators.sampling import (
        pps_sample,
        pps_sample_sql,
    )

    df = spark.createDataFrame([(1, 5), (None, 7)], "id long, w long")
    with pytest.raises(ValueError, match="NULL 'id'"):
        pps_sample(df, "id", "w", 3)
    ctes = pps_sample_sql(
        "SELECT * FROM (VALUES (1, 5), (NULL, 7)) t(id, w)", "id", "w", 3
    )
    con = duckdb.connect()
    with pytest.raises(Exception, match="NULL id"):
        con.sql(f"WITH {ctes} SELECT * FROM pps").fetchall()
    # NULL-free frames are untouched: Spark and DuckDB still agree
    ok = spark.createDataFrame([(1, 5), (2, 7)], "id long, w long")
    got = {r["id"]: r["n_copies"] for r in pps_sample(ok, "id", "w", 3).collect()}
    ctes_ok = pps_sample_sql(
        "SELECT * FROM (VALUES (1, 5), (2, 7)) t(id, w)", "id", "w", 3
    )
    oracle = dict(con.sql(f"WITH {ctes_ok} SELECT id, n_copies FROM pps").fetchall())
    con.close()
    assert got == oracle and sum(got.values()) == 3
