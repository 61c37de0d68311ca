"""DuckDB parity for the non-gate rows (``@query(name, gate=False)``).

The driver's CORRECTNESS gate holds 50 rows; every other registered
query gets the SAME check here — column names, values, and Python value
types — so moving a query out of the gate never drops its regression
coverage."""

from __future__ import annotations

import duckdb
import pytest

from etl_instagram_spark.plans import rotated_queries

ROWS = rotated_queries()

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck(sf_oracle):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_oracle}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(ROWS))
def test_rotated_query_matches_oracle(spark, sf_oracle, duck, name):
    fn, sql = ROWS[name]
    if callable(sql):  # lazy mirrors whose literals are fit from data
        sql = sql()
    sdf = fn(spark, sf_oracle)
    scols = sorted(sdf.columns)
    # repr-keyed sort: None-safe (ROLLUP rows carry NULL grouping keys,
    # which plain tuple comparison cannot order)
    srows = sorted((tuple(r[c] for c in scols) for r in sdf.collect()), key=repr)
    ddf = duck.sql(sql)
    dcols = sorted(ddf.columns)
    assert scols == dcols, (name, scols, dcols)
    idx = [ddf.columns.index(c) for c in dcols]
    drows = sorted((tuple(r[i] for i in idx) for r in ddf.fetchall()), key=repr)
    assert srows == drows, (name, srows[:5], drows[:5])
    assert all(
        tuple(type(x) for x in a) == tuple(type(x) for x in b)
        for a, b in zip(srows, drows)
    ), name
