"""Independent-engine certification of the incremental entity-resolution
store (the kmeans-parity pattern, VERDICT r10 #7).

test_entity.py proves incremental_resolve_entities adopts history,
replays idempotently, and that the streaming face equals sequential
incremental calls — all against the ENGINE'S OWN batch operator. Here
DuckDB maintains its OWN (block, norm, entity) name store over the same
epoch schedule, including an identical epoch replay: per epoch it
re-derives within-batch clusters (blocking + levenshtein + the
convergence-asserted CC rounds), probes ITS store for adoptions, takes
the same monotone-min bridge adoption, and applies the same
(block, norm)-keyed min-entity upsert. After every epoch the Spark
MergeTable state, the per-record assignments, and the surfaced merge
candidates must match the simulation row-for-row — levenshtein has
identical integer semantics in both engines, so any drift is a real
semantic divergence, not noise.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from etl_instagram_spark.operators.entity import incremental_resolve_entities
from etl_instagram_spark.operators.merge import MergeTable
from etl_instagram_spark.plans.q_shared import _sql_cc_rounds

PART = "/root/testdata/sf0.001/part.parquet"
N_EPOCHS = 3
REPLAYED_EPOCH = 1
MAX_DIST = 3
CC_ROUNDS = 16


def _epoch_batches() -> list[list[tuple[int, str]]]:
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT p_partkey, p_name FROM '{PART}' ORDER BY p_partkey"
    ).fetchall()
    con.close()
    return [
        [(int(i), str(nm)) for i, nm in rows if i % N_EPOCHS == e]
        for e in range(N_EPOCHS)
    ]


_DUCK_EPOCH_SQL = f"""
WITH n AS (SELECT id, trim(lower(name)) AS norm FROM batch),
b AS (SELECT id, norm, string_split(norm, ' ')[-1] AS blk FROM n
      WHERE norm IS NOT NULL AND string_split(norm, ' ')[-1] IS NOT NULL),
verified AS (SELECT a.id AS ia, b2.id AS ib
             FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id
             WHERE levenshtein(a.norm, b2.norm) <= {MAX_DIST}),
{_sql_cc_rounds(CC_ROUNDS)},
clustered AS (SELECT b.id, b.norm, b.blk,
                     COALESCE(l.component, b.id) AS cluster
              FROM b LEFT JOIN lcc l ON l.id = b.id),
probes AS (SELECT c.cluster, s.entity
           FROM clustered c JOIN store s
             ON s.block = c.blk AND levenshtein(c.norm, s.norm) <= {MAX_DIST}),
hits AS (SELECT cluster, min(entity) AS adopted FROM probes GROUP BY cluster),
merges AS (SELECT DISTINCT h.adopted AS entity_keep, p.entity AS entity_merge
           FROM probes p JOIN hits h ON h.cluster = p.cluster
           WHERE p.entity <> h.adopted),
assigned AS (SELECT c.id, c.norm, c.blk,
                    COALESCE(h.adopted, c.cluster) AS entity
             FROM clustered c LEFT JOIN hits h ON h.cluster = c.cluster)
"""


def test_incremental_entity_store_matches_duckdb_epoch_simulation(
    spark, tmp_path
):
    batches = _epoch_batches()
    schedule = list(enumerate(batches))
    # identical replay of one epoch mid-schedule — both engines must
    # converge (the at-least-once delivery contract)
    schedule.insert(REPLAYED_EPOCH + 1, (REPLAYED_EPOCH, batches[REPLAYED_EPOCH]))

    con = duckdb.connect()
    con.sql("CREATE TABLE store (block VARCHAR, norm VARCHAR, entity BIGINT)")

    store = MergeTable(spark, str(tmp_path / "entities"), ["block", "norm"])
    block = F.element_at(F.split(F.trim(F.lower(F.col("name"))), " "), -1)

    adoptions = 0  # records that took an entity from ANOTHER epoch's ids
    for epoch, batch in schedule:
        # --- DuckDB side: simulate the tick against its own store ---
        con.sql("CREATE OR REPLACE TABLE batch (id BIGINT, name VARCHAR)")
        con.executemany("INSERT INTO batch VALUES (?, ?)", batch)
        duck_assigned = dict(
            con.sql(
                "SELECT b.id, COALESCE(a.entity, b.id) FROM batch b "
                f"LEFT JOIN ({_DUCK_EPOCH_SQL} SELECT id, entity FROM assigned) a"
                " ON a.id = b.id"
            ).fetchall()
        )
        duck_merges = set(
            con.sql(
                f"{_DUCK_EPOCH_SQL} SELECT entity_keep, entity_merge FROM merges"
            ).fetchall()
        )
        con.sql(
            "CREATE OR REPLACE TABLE newrows AS "
            f"{_DUCK_EPOCH_SQL} "
            "SELECT blk AS block, norm, min(entity) AS entity "
            "FROM assigned GROUP BY blk, norm"
        )
        con.sql(
            "DELETE FROM store WHERE EXISTS (SELECT 1 FROM newrows n"
            " WHERE n.block = store.block AND n.norm = store.norm)"
        )
        con.sql("INSERT INTO store SELECT * FROM newrows")

        # --- Spark side: the real operator against the MergeTable ---
        df = spark.createDataFrame(batch, "id long, name string")
        assigned, merges = incremental_resolve_entities(
            df, store, "id", "name", block, MAX_DIST
        )
        got_assigned = {r["id"]: r["entity"] for r in assigned.collect()}
        got_merges = {
            (r["entity_keep"], r["entity_merge"]) for r in merges.collect()
        }

        assert got_assigned == duck_assigned, f"epoch {epoch}: assignments"
        assert got_merges == duck_merges, f"epoch {epoch}: merge candidates"
        duck_store = sorted(
            con.sql("SELECT block, norm, entity FROM store").fetchall()
        )
        spark_store = sorted(
            tuple(r)
            for r in store.read().select("block", "norm", "entity").collect()
        )
        assert spark_store == duck_store, f"epoch {epoch}: store state"
        adoptions += sum(
            1 for ent in got_assigned.values() if ent % N_EPOCHS != epoch
        )
    con.close()
    # the schedule must exercise real cross-batch adoption (entities
    # taken from a DIFFERENT epoch's id class via the store probe), or
    # the parity proved only the within-batch path
    assert adoptions > 0
