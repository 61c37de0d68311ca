"""Independent-engine certification of the continuous k-means surface.

test_streaming.py proves the apply_kmeans_delta drain equals the ENGINE'S OWN
batch refine_centroids over any batch split and survives replay; like
the rollup/CDC surfaces before it, its maintained state had never been
checked against another engine. Here DuckDB simulates the same epoch
loop — its own (epoch, cell, n, s0..s63) state table, per-epoch keyed
upsert including an identical epoch replay — over batches drawn from the
real sf0.001 embeddings, assigning cells with the SAME shifted-score
text ivf_cell ranks by (list_position over list_min — cross-engine
argmin agreement by construction, the _sql_centroid_dists contract).
Both the maintained STATE (exact integer micro-unit sums) and the
kmeans_read_centroids READ face (the same pure (sum/scale)/n division)
must match the simulation value-for-value.
"""

from __future__ import annotations

import duckdb

from etl_instagram_spark.operators.merge import MergeTable
from etl_instagram_spark.operators.similarity import shifted_score_sql
from etl_instagram_spark.streaming.incremental import (
    apply_kmeans_delta,
    kmeans_read_centroids,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"
N_EPOCHS = 4
REPLAYED_EPOCH = 1
K = 8
QUANT_DP = 6
SCALE = 10**QUANT_DP


def _fit_centroids(spark):
    from etl_instagram_spark.operators.similarity import fit_ivf_centroids

    emb = spark.read.parquet(EMB)
    return fit_ivf_centroids(emb, n_clusters=K, seed=42, order_col="vec_id")


def _epoch_batches() -> list[list[tuple[int, list[float]]]]:
    """Deterministic epoch batches covering every vector exactly once
    (epoch = vec_id % N_EPOCHS), extracted as float64 lists so both
    engines score the IDENTICAL doubles."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM '{EMB}' ORDER BY vec_id"
    ).fetchall()
    con.close()
    return [
        [(int(i), [float(x) for x in v]) for i, v in rows if i % N_EPOCHS == e]
        for e in range(N_EPOCHS)
    ]


def test_continuous_kmeans_matches_duckdb_epoch_simulation(spark, tmp_path):
    centroids = _fit_centroids(spark)
    dim = len(centroids[0])
    batches = _epoch_batches()
    schedule = list(enumerate(batches))
    schedule.insert(REPLAYED_EPOCH + 1, (REPLAYED_EPOCH, batches[REPLAYED_EPOCH]))

    # --- DuckDB simulation: own state table + keyed upsert/replay ---
    con = duckdb.connect()
    scols = ", ".join(f"s{d} BIGINT" for d in range(dim))
    con.sql(f"CREATE TABLE kstats (epoch_id INT, cell INT, n BIGINT, {scols})")
    dists = ", ".join(
        shifted_score_sql(lambda i: f"CAST(embedding[{i}] AS DOUBLE)", c)
        for c in centroids
    )
    sums = ", ".join(
        f"CAST(sum(CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * {SCALE})"
        f" AS BIGINT)) AS BIGINT) AS s{d}"
        for d in range(dim)
    )

    def duck_apply(e: int, batch) -> None:
        con.sql("CREATE OR REPLACE TABLE batch (vec_id BIGINT, embedding DOUBLE[])")
        con.executemany("INSERT INTO batch VALUES (?, ?)", batch)
        con.sql(
            f"""
            CREATE OR REPLACE TABLE delta AS
            SELECT {e} AS epoch_id, cell, count(*) AS n, {sums}
            FROM (SELECT embedding,
                         (list_position(d, list_min(d)) - 1) AS cell
                  FROM (SELECT embedding, [{dists}] AS d FROM batch))
            GROUP BY cell
            """
        )
        # keyed upsert: the replayed epoch replaces itself, never adds
        con.sql(
            f"DELETE FROM kstats WHERE epoch_id = {e} "
            "AND cell IN (SELECT cell FROM delta)"
        )
        con.sql("INSERT INTO kstats SELECT * FROM delta")

    for e, batch in schedule:
        duck_apply(e, batch)
    want_state = {
        (int(r[0]), int(r[1])): tuple(int(x) for x in r[2:])
        for r in con.sql("SELECT * FROM kstats").fetchall()
    }
    totals = con.sql(
        "SELECT cell, sum(n), "
        + ", ".join(f"sum(s{d})" for d in range(dim))
        + " FROM kstats GROUP BY cell"
    ).fetchall()
    con.close()
    # the read face's exact math: (integer-sum / scale) / n per coordinate
    want_centroids = [[float(x) for x in c] for c in centroids]
    for r in totals:
        cell, n = int(r[0]), int(r[1])
        if n:
            want_centroids[cell] = [
                (int(r[2 + d]) / SCALE) / n for d in range(dim)
            ]

    # --- engine: the real delta/replay path over the same schedule ---
    store = MergeTable(spark, str(tmp_path / "kstats"), ["epoch_id", "cell"])
    ddl = "vec_id long, embedding array<double>"
    for e, batch in schedule:
        bdf = spark.createDataFrame(batch, ddl)
        apply_kmeans_delta(store, bdf, e, centroids, quant_dp=QUANT_DP)

    got_state = {
        (int(r["epoch_id"]), int(r["cell"])): tuple(
            int(r[k]) for k in ["n"] + [f"s{d}" for d in range(dim)]
        )
        for r in store.read().collect()
    }
    assert got_state == want_state

    got_centroids = kmeans_read_centroids(store, centroids, quant_dp=QUANT_DP)
    assert got_centroids == want_centroids  # bit-exact
