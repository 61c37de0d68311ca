"""operators/entity.py — blocking + edit-distance + CC entity resolution.

Cross-engine value certification lives in the GATE row
part_entity_resolution (promoted r11; driver-checked every round); here: a
union-find Python differential on real part names, hand cases for
transitivity and blocking misses, parameter validation, and
partitioning invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.entity import (
    candidate_pairs,
    canonical_entities,
    resolve_entities,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _py_resolve(rows, max_dist, block_fn):
    """Union-find reference with the same block/verify semantics."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # match the operator's normalization: trim+lower only
    norm = {i: s.strip().lower() for i, s in rows}
    ids = sorted(norm)
    for i in ids:
        parent[i] = i
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if block_fn(norm[a]) != block_fn(norm[b]):
                continue
            if _lev(norm[a], norm[b]) <= max_dist:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = min(ra, rb), max(ra, rb)
                    parent[hi] = lo
    # include only ids whose component has >= 2 members (the operator's
    # O(matches) output convention)
    comp = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    return {
        i: root for root, members in comp.items() if len(members) > 1
        for i in members
    }


def BLOCK():
    # built lazily: Column construction needs an active SparkContext
    return F.element_at(F.split(F.trim(F.lower(F.col("name"))), " "), -1)


def test_entities_cluster_transitively(spark):
    # the chain lives inside ONE block (last token 'plata') — blocking
    # on the last word means first-word edits are the comparable kind
    rows = [
        (1, "red plata"),
        (2, "rad plata"),   # d=1 from 1
        (3, "rod plata"),   # d=1 from 2, d=2 from 1
        (4, "blue plata"),  # d=3+ from all of 1-3, same block
        (5, "red widget"),  # different block
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        r["id"]: r["entity"]
        for r in resolve_entities(df, "id", "name", BLOCK(), max_dist=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_entities_match_python_union_find_on_real_parts(spark, sf_smoke):
    pa = spark.read.parquet(f"{sf_smoke}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    got = {
        r["id"]: r["entity"]
        for r in resolve_entities(df=pa, id_col="id", name_col="name",
                                  block=BLOCK(), max_dist=3).collect()
    }
    rows = [(r["id"], r["name"]) for r in pa.collect()]
    want = _py_resolve(rows, 3, lambda s: s.split(" ")[-1])
    assert got == want


def test_blocking_bounds_comparisons(spark):
    """A pair in different blocks is never compared even when the edit
    distance is tiny — the scale trade blocking makes, stated by test."""
    rows = [(1, "ax q"), (2, "ax r")]  # d=1, blocks 'q' vs 'r'
    df = spark.createDataFrame(rows, "id long, name string")
    assert candidate_pairs(df, "id", "name", BLOCK(), max_dist=2).count() == 0


def test_canonical_entities_audit(spark):
    rows = [
        (7, "Red Plate"),   # normalizes onto 9
        (2, "rud plate"),   # d=1 from both
        (9, "red plate"),
        (5, "lone gizmo"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    out = canonical_entities(df, "id", "name", BLOCK(), max_dist=2).collect()
    assert len(out) == 1
    row = out[0]
    # entity label = smallest member id; canonical name is ITS row
    assert row["entity"] == 2 and row["canonical_name"] == "rud plate"
    assert row["n_members"] == 3
    assert row["n_name_variants"] == 2  # 'red plate' (x2 normed) + 'rud plate'


def test_incremental_resolution_adopts_history_and_replays(spark, tmp_path):
    """Cross-batch adoption: batch-2 variants link to batch-1 entities
    through the store alone; a replayed batch converges (same
    assignment, same store); a batch cluster bridging two historical
    entities adopts the smaller and surfaces the merge candidate."""
    from etl_instagram_spark.operators.entity import (
        incremental_resolve_entities,
    )
    from etl_instagram_spark.operators.merge import MergeTable

    store = MergeTable(spark, str(tmp_path / "entities"), ["block", "norm"])
    b1 = spark.createDataFrame(
        [(1, "red plata"), (2, "rad plata"), (10, "blue gizmo")],
        "id long, name string",
    )
    a1, m1 = incremental_resolve_entities(b1, store, "id", "name", BLOCK(), 2)
    got1 = {r["id"]: r["entity"] for r in a1.collect()}
    assert got1 == {1: 1, 2: 1, 10: 10}
    assert m1.count() == 0

    # batch 2: a new variant of entity 1, an exact repeat of 'blue
    # gizmo', an unrelated new name, and a NULL-named row
    b2 = spark.createDataFrame(
        [(21, "rod plata"), (22, "blue gizmo"), (23, "lone widget"),
         (24, None)],
        "id long, name string",
    )
    a2, m2 = incremental_resolve_entities(b2, store, "id", "name", BLOCK(), 2)
    got2 = {r["id"]: r["entity"] for r in a2.collect()}
    assert got2 == {21: 1, 22: 10, 23: 23, 24: 24}
    assert m2.count() == 0

    # replay batch 2: same assignment, store byte-identical
    before = sorted(map(tuple, store.read().collect()))
    a2r, _ = incremental_resolve_entities(b2, store, "id", "name", BLOCK(), 2)
    assert {r["id"]: r["entity"] for r in a2r.collect()} == got2
    assert sorted(map(tuple, store.read().collect())) == before

    # bridge: one name within distance of entity-1 names AND of a
    # second 'plata' entity created now — adopt the smaller, audit the
    # pair. First create a disjoint plata entity far from cluster 1.
    b3 = spark.createDataFrame([(30, "xyz plata")], "id long, name string")
    a3, m3 = incremental_resolve_entities(b3, store, "id", "name", BLOCK(), 2)
    assert {r["id"]: r["entity"] for r in a3.collect()} == {30: 30}
    assert m3.count() == 0
    # 'ryz plata': d=2 from 'xyz plata' (entity 30) AND d=2 from
    # 'rod plata' (entity 1) — one batch row bridging two entities
    b4 = spark.createDataFrame([(40, "ryz plata")], "id long, name string")
    a4, m4 = incremental_resolve_entities(b4, store, "id", "name", BLOCK(), 2)
    assert {r["id"]: r["entity"] for r in a4.collect()} == {40: 1}
    assert {(r["entity_keep"], r["entity_merge"]) for r in m4.collect()} == {
        (1, 30)
    }


def test_stream_entity_resolution_matches_incremental_and_replays(spark, tmp_path):
    """The streaming face: two drained waves produce the same name
    store and assignments as sequential incremental calls, and a
    replayed tick converges (all three sinks unchanged)."""
    import json

    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        stream_resolve_entities,
    )

    def write_json(path, rows):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    landing = tmp_path / "names"
    store = MergeTable(spark, str(tmp_path / "ent_store"), ["block", "norm"])
    assigned_out = MergeTable(spark, str(tmp_path / "ent_assigned"), ["id"])
    merges_out = MergeTable(
        spark, str(tmp_path / "ent_merges"), ["entity_keep", "entity_merge"]
    )
    ckpt = str(tmp_path / "ckpt_ent")
    DDL = "id long, name string"

    def tick():
        return stream_resolve_entities(
            spark, str(landing), DDL, store, ckpt, "id", "name", BLOCK(),
            max_dist=2, assigned_out=assigned_out, merges_out=merges_out,
        )

    write_json(landing / "w1.json", [
        {"id": 1, "name": "red plata"}, {"id": 2, "name": "rad plata"},
        {"id": 10, "name": "xyz plata"},
    ])
    assert tick()
    write_json(landing / "w2.json", [
        {"id": 21, "name": "rod plata"},   # adopts entity 1
        {"id": 22, "name": "ryz plata"},   # bridges 1 and 10 -> keep 1
    ])
    assert tick()
    got = {r["id"]: r["entity"] for r in assigned_out.read().collect()}
    assert got == {1: 1, 2: 1, 10: 10, 21: 1, 22: 1}
    assert {
        (r["entity_keep"], r["entity_merge"]) for r in merges_out.read().collect()
    } == {(1, 10)}

    # replay: re-deliver wave 2 as the same batch (the crashed-tick
    # shape — same batch boundary, like the apply_*_delta replays);
    # every sink must converge to its pre-replay state
    from etl_instagram_spark.operators.entity import (
        incremental_resolve_entities,
    )

    snap = tuple(
        sorted(map(tuple, t.read().collect()))
        for t in (store, assigned_out, merges_out)
    )
    b2 = spark.createDataFrame(
        [(21, "rod plata"), (22, "ryz plata")], DDL
    )
    a_r, m_r = incremental_resolve_entities(
        b2, store, "id", "name", BLOCK(), 2
    )
    assigned_out.upsert(a_r)
    merges_out.upsert(m_r)
    assert snap == tuple(
        sorted(map(tuple, t.read().collect()))
        for t in (store, assigned_out, merges_out)
    )


def test_entity_params_and_invariance(spark, sf_smoke):
    df = spark.createDataFrame([(1, "a b")], "id long, name string")
    with pytest.raises(ValueError):
        candidate_pairs(df, "id", "name", BLOCK(), max_dist=-1)
    pa = spark.read.parquet(f"{sf_smoke}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    one = sorted(
        tuple(r)
        for r in resolve_entities(pa.coalesce(1), "id", "name", BLOCK(), 3).collect()
    )
    many = sorted(
        tuple(r)
        for r in resolve_entities(pa.repartition(11), "id", "name", BLOCK(), 3).collect()
    )
    assert one == many


def test_hot_block_guard_and_audit(spark):
    """max_block_size excludes oversized blocks from pair generation
    (their rows resolve as singletons), the audit reports the dropped
    size class as oversized, and the guard is deterministic under
    repartitioning. One degenerate block ('x') holds 6 near-identical
    names; a healthy block ('ok') holds a real pair."""
    from etl_instagram_spark.operators.entity import block_size_audit

    rows = [(i, f"name{i} x") for i in range(1, 7)]  # hot block 'x'
    rows += [(10, "alpha ok"), (11, "alphb ok")]  # healthy pair
    df = spark.createDataFrame(rows, "id long, name string")
    blk = F.element_at(F.split(F.trim(F.lower(F.col("name"))), " "), -1)

    unguarded = candidate_pairs(df, "id", "name", blk, max_dist=2)
    assert unguarded.count() == 15 + 1  # C(6,2) hot + 1 healthy
    guarded = candidate_pairs(
        df, "id", "name", blk, max_dist=2, max_block_size=5
    )
    got = sorted(tuple(r) for r in guarded.collect())
    assert got == [(10, 11)]  # hot block fully excluded
    again = sorted(
        tuple(r)
        for r in candidate_pairs(
            df.repartition(7), "id", "name", blk, max_dist=2, max_block_size=5
        ).collect()
    )
    assert again == got
    # resolution: hot-block rows come out as singletons (absent from
    # the O(matches) output), the healthy pair still clusters
    ents = resolve_entities(
        df, "id", "name", blk, max_dist=2, max_block_size=5
    )
    assert {(r["id"], r["entity"]) for r in ents.collect()} == {
        (10, 10),
        (11, 10),
    }
    audit = {
        r["block_size"]: (r["n_blocks"], r["n_rows"], r["n_pairs"], r["oversized"])
        for r in block_size_audit(df, "name", blk, max_block_size=5).collect()
    }
    assert audit[6] == (1, 6, 15, True)
    assert audit[2] == (1, 2, 1, False)
    with pytest.raises(ValueError):
        candidate_pairs(df, "id", "name", blk, max_block_size=1)


def test_cc_oracle_convergence_assert_fires():
    """The oracle's fixed-round CC budget fails LOUDLY when the graph
    needs more rounds: a path deeper than the budget raises DuckDB
    error() instead of silently certifying non-minimal labels; a
    sufficient budget returns minimal labels."""
    import duckdb

    from etl_instagram_spark.plans.q_shared import _sql_cc_rounds

    chain = ",".join(f"({i},{i+1})" for i in range(1, 9))  # path 1..9
    base = f"verified AS (SELECT ia, ib FROM (VALUES {chain}) t(ia, ib))"
    con = duckdb.connect()
    ok = con.sql(
        f"WITH {base}, {_sql_cc_rounds(9)} SELECT DISTINCT component FROM lcc"
    ).fetchall()
    assert ok == [(1,)]
    import pytest as _pytest

    with _pytest.raises(Exception, match="not converged"):
        con.sql(
            f"WITH {base}, {_sql_cc_rounds(3)} SELECT * FROM lcc"
        ).fetchall()
    con.close()


def test_sorted_neighborhood_pairs_reference_and_cross_engine(spark):
    """SNM pair generation: equals a naive Python sorted-window
    reference on real part names, is invariant under repartitioning and
    bucket choice, matches the DuckDB mirror, and keeps matching on a
    degenerate shared token where the block-size guard would drop rows."""
    import duckdb

    from etl_instagram_spark.operators.entity import (
        resolve_entities_snm,
        sorted_neighborhood_pairs,
        sorted_neighborhood_sql,
    )

    rows = [
        (1, "alpha widget"),
        (2, "alphb widget"),
        (3, "alpha widgot"),
        (10, "zeta gizmo"),
        (11, "zetb gizmo"),
        (20, "midline thing"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(
            df, "id", "name", window=3, max_dist=2
        ).collect()
    )
    # python reference: sort by (norm, id), window of 2 followers
    ordered = sorted((nm.strip().lower(), i) for i, nm in rows)
    want = set()
    for x in range(len(ordered)):
        for y in range(x + 1, min(x + 3, len(ordered))):
            if _lev(ordered[x][0], ordered[y][0]) <= 2:
                a, b = ordered[x][1], ordered[y][1]
                want.add((min(a, b), max(a, b)))
    assert got == sorted(want)
    again = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(
            df.repartition(7), "id", "name", window=3, max_dist=2
        ).collect()
    )
    assert again == got
    # wider bucket (constant) must give the identical global rank order
    const_bucket = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(
            df, "id", "name", window=3, max_dist=2, bucket=F.lit("x")
        ).collect()
    )
    assert const_bucket == got
    con = duckdb.connect()
    values = ",".join(f"({i},'{nm}')" for i, nm in rows)
    ctes = sorted_neighborhood_sql(
        f"SELECT * FROM (VALUES {values})", window=3, max_dist=2
    )
    duck = sorted(con.sql(f"WITH {ctes} SELECT ia, ib FROM verified").fetchall())
    con.close()
    assert duck == got
    # resolution face: transitive entity over the SNM pairs
    ents = {
        (r["id"], r["entity"])
        for r in resolve_entities_snm(
            df, "id", "name", window=3, max_dist=2
        ).collect()
    }
    assert ents == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "id", "name", window=1)


def test_snm_on_real_parts_matches_python(spark, sf_smoke):
    """Real-data differential: SNM pairs over sf part names equal the
    Python sorted-window reference, and pair volume is exactly bounded
    by n*(window-1)."""
    from etl_instagram_spark.operators.entity import (
        sorted_neighborhood_pairs,
    )

    pa = spark.read.parquet(f"{sf_smoke}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    window, dist = 4, 3
    got = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(
            pa, "id", "name", window=window, max_dist=dist
        ).collect()
    )
    rows = [(r["id"], r["name"]) for r in pa.collect()]
    ordered = sorted((nm.strip().lower(), i) for i, nm in rows)
    want = set()
    for x in range(len(ordered)):
        for y in range(x + 1, min(x + window, len(ordered))):
            if _lev(ordered[x][0], ordered[y][0]) <= dist:
                a, b = ordered[x][1], ordered[y][1]
                want.add((min(a, b), max(a, b)))
    assert got == sorted(want)
    assert len(got) <= len(rows) * (window - 1)


def test_incremental_history_probe_hot_block_guard(spark, tmp_path):
    """max_block_size bounds the HISTORY PROBE too (r12 ADVICE #1): a
    store block that accumulated more than cap norms is excluded from
    the probe join — batch rows in it start new entities instead of
    paying |batch-rows| × |store-norms| edit distances per tick — while
    healthy blocks still adopt, and a guarded replay converges. Without
    the cap the same batch adopts through the hot block, proving the
    guard (not the data) made the difference."""
    from etl_instagram_spark.operators.entity import (
        incremental_resolve_entities,
    )
    from etl_instagram_spark.operators.merge import MergeTable

    # seed: 6 mutually-distant norms in block 'hot' (> cap of 5), one
    # name in healthy block 'ok'
    hot_names = ["aaaa", "bbbb", "cccc", "dddd", "eeee", "ffff"]
    rows = [(i, f"{nm} hot") for i, nm in enumerate(hot_names, 1)]
    rows.append((10, "alpha ok"))
    store = MergeTable(spark, str(tmp_path / "ents"), ["block", "norm"])
    b1 = spark.createDataFrame(rows, "id long, name string")
    a1, _ = incremental_resolve_entities(b1, store, "id", "name", BLOCK(), 2)
    assert {r["id"]: r["entity"] for r in a1.collect()} == {
        i: i for i in [1, 2, 3, 4, 5, 6, 10]
    }

    # batch 2: 'aaab hot' is d=1 from stored 'aaaa hot'; 'alphb ok' is
    # d=1 from stored 'alpha ok'
    b2 = spark.createDataFrame(
        [(31, "aaab hot"), (32, "alphb ok")], "id long, name string"
    )
    guarded, _ = incremental_resolve_entities(
        b2, store, "id", "name", BLOCK(), 2, max_block_size=5
    )
    got = {r["id"]: r["entity"] for r in guarded.collect()}
    # hot store block (6 norms > 5) excluded from the probe: 31 starts
    # a new entity; healthy block still adopts
    assert got == {31: 31, 32: 10}
    # guarded replay converges (the replayed names find their own rows)
    replay, _ = incremental_resolve_entities(
        b2, store, "id", "name", BLOCK(), 2, max_block_size=5
    )
    assert {r["id"]: r["entity"] for r in replay.collect()} == got

    # control: the same probe WITHOUT the cap adopts through the hot
    # block (store2 seeded identically, batch ids disjoint from store)
    store2 = MergeTable(spark, str(tmp_path / "ents2"), ["block", "norm"])
    incremental_resolve_entities(b1, store2, "id", "name", BLOCK(), 2)
    b2b = spark.createDataFrame(
        [(41, "aaab hot"), (42, "alphb ok")], "id long, name string"
    )
    unguarded, _ = incremental_resolve_entities(
        b2b, store2, "id", "name", BLOCK(), 2
    )
    assert {r["id"]: r["entity"] for r in unguarded.collect()} == {
        41: 1,
        42: 10,
    }


def test_incremental_probe_guard_exact_key_carve_out(spark, tmp_path):
    """A batch name whose EXACT (block, norm) key already exists in a
    store-hot block adopts its stored entity via the full-key equi-join
    carve-out (r13 ADVICE #2) instead of being silently re-homed to a
    fresh batch entity — which would split the stored entity on the
    subsequent upsert. Fuzzy (d=1) names in the same hot block still
    start new entities (the edit-distance probe stays excluded), and a
    crashed-tick replay converges because the adopted entity is written
    back unchanged."""
    from etl_instagram_spark.operators.entity import (
        incremental_resolve_entities,
    )
    from etl_instagram_spark.operators.merge import MergeTable

    # seed: 7 mutually-distant norms in block 'hot' — still > cap of 5
    # after the batch's own exact key ('cccc hot') is excluded from
    # the hotness count (6 non-batch norms > 5)
    hot_names = ["aaaa", "bbbb", "cccc", "dddd", "eeee", "ffff", "gggg"]
    store = MergeTable(spark, str(tmp_path / "ents"), ["block", "norm"])
    b1 = spark.createDataFrame(
        [(i, f"{nm} hot") for i, nm in enumerate(hot_names, 1)],
        "id long, name string",
    )
    incremental_resolve_entities(b1, store, "id", "name", BLOCK(), 2)

    # batch 2: id 51 is an EXACT key match ('cccc hot' == stored norm),
    # id 52 is only d=1 from 'aaaa hot' (fuzzy — stays excluded)
    b2 = spark.createDataFrame(
        [(51, "cccc hot"), (52, "aaab hot")], "id long, name string"
    )
    got, _ = incremental_resolve_entities(
        b2, store, "id", "name", BLOCK(), 2, max_block_size=5
    )
    assert {r["id"]: r["entity"] for r in got.collect()} == {51: 3, 52: 52}
    # the store keeps 'cccc hot' homed at entity 3 — no split
    kept = {
        (r["block"], r["norm"]): r["entity"] for r in store.read().collect()
    }
    assert kept[("hot", "cccc hot")] == 3
    # replay converges bit-for-bit
    snapshot = sorted(map(tuple, store.read().collect()))
    replay, _ = incremental_resolve_entities(
        b2, store, "id", "name", BLOCK(), 2, max_block_size=5
    )
    assert {r["id"]: r["entity"] for r in replay.collect()} == {51: 3, 52: 52}
    assert sorted(map(tuple, store.read().collect())) == snapshot


def test_exact_pair_count_past_2_53(spark):
    """block_size_audit's n_pairs stays exact past double's 53-bit
    mantissa (r12 ADVICE #4): at block_size = 2^27+3 the true
    s·(s−1)/2 needs 54 significant bits, so the old double division
    rounded it — the BIGINT div expression reproduces the exact Python
    integer. Unit-tested on a literal sizes frame (an actual 2^27-row
    block is out of test scope; the expression is the same one the
    audit selects)."""
    from etl_instagram_spark.operators.entity import exact_pair_count

    s = 2**27 + 3
    df = spark.createDataFrame(
        [(s, 3), (6, 1)], "block_size long, n_blocks long"
    )
    got = {
        r["block_size"]: r["n_pairs"]
        for r in df.select(
            "block_size", exact_pair_count().alias("n_pairs")
        ).collect()
    }
    exact = 3 * (s * (s - 1) // 2)
    assert got == {s: exact, 6: 15}
    # the double path provably differs at this size — the reason for
    # the integer rewrite
    assert int(float(s * (s - 1)) / 2) * 3 != exact


def test_snm_default_bucket_balances_skewed_first_letter(spark):
    """First-letter-skewed corpora (every name starts 'r…') spread
    across the 3-char default buckets instead of concentrating one
    bucket's row_number window in a single task (r11 What's-wrong #3),
    and the pair set is invariant to the bucket choice — 1-char,
    default, and 4-char prefixes all produce the identical verified
    pairs, so the bucket is purely a balance lever."""
    from etl_instagram_spark.operators.entity import (
        normalized_name,
        sorted_neighborhood_pairs,
    )

    stems = ["resto", "rincon", "rodeo", "rubio", "ranch", "rive"]
    rows = [
        (i * 10 + j, f"{stem}{j} grill")
        for i, stem in enumerate(stems)
        for j in range(4)
    ]
    df = spark.createDataFrame(rows, "id long, name string")

    def pairs(bucket):
        return sorted(
            tuple(r)
            for r in sorted_neighborhood_pairs(
                df, "id", "name", window=3, max_dist=2, bucket=bucket
            ).collect()
        )

    default = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(
            df, "id", "name", window=3, max_dist=2
        ).collect()
    )
    assert default == pairs(F.substring(F.col("__key"), 1, 1))
    assert default == pairs(F.substring(F.col("__key"), 1, 4))
    assert len(default) > 0
    # the balance property the default exists for: >1 bucket, and no
    # bucket holds a majority of a first-letter-skewed corpus
    counts = (
        df.select(F.substring(normalized_name(F.col("name")), 1, 3).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    assert len(counts) > 1
    assert max(r["count"] for r in counts) < len(rows) / 2


def test_incremental_probe_guard_replay_stable_at_cap_boundary(spark, tmp_path):
    """The probe guard's hotness predicate must not flip between a
    crashed tick and its replay when the BATCH ITSELF pushes a store
    block across the cap: the count excludes the batch's own
    (block, norm) keys, so with exactly cap norms in history the first
    run (store at cap) and the replay (store at cap+1, minus the
    batch's own key) see the same not-hot block — same adoption, same
    store rows."""
    from etl_instagram_spark.operators.entity import (
        incremental_resolve_entities,
    )
    from etl_instagram_spark.operators.merge import MergeTable

    cap = 5
    hot_names = ["aaaa", "bbbb", "cccc", "dddd", "eeee"]  # exactly cap
    store = MergeTable(spark, str(tmp_path / "ents"), ["block", "norm"])
    b1 = spark.createDataFrame(
        [(i, f"{nm} hot") for i, nm in enumerate(hot_names, 1)],
        "id long, name string",
    )
    incremental_resolve_entities(b1, store, "id", "name", BLOCK(), 2)

    # the boundary batch: a 6th norm, d=1 from 'aaaa hot'
    b2 = spark.createDataFrame([(31, "aaab hot")], "id long, name string")
    first, _ = incremental_resolve_entities(
        b2, store, "id", "name", BLOCK(), 2, max_block_size=cap
    )
    assert {r["id"]: r["entity"] for r in first.collect()} == {31: 1}
    snapshot = sorted(map(tuple, store.read().collect()))
    # crashed-tick replay: the store now holds cap+1 norms, but the
    # batch's own key is excluded from the count — predicate unchanged
    replay, _ = incremental_resolve_entities(
        b2, store, "id", "name", BLOCK(), 2, max_block_size=cap
    )
    assert {r["id"]: r["entity"] for r in replay.collect()} == {31: 1}
    assert sorted(map(tuple, store.read().collect())) == snapshot
