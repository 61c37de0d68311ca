"""operators/graph.py — integer-quantized PageRank.

Certification layers:
- differential: Spark result == an independent pure-Python power
  iteration with the same integer update rule, on adversarial graph
  shapes (cycles, dangling sinks, disconnected pieces, self-loops,
  stars);
- cross-engine: the pagerank_oracle_sql CTE chain replays the same
  graphs through DuckDB and lands on identical BIGINTs (the gate row
  graph_pagerank_suppliers re-checks this end-to-end at sf0.01);
- invariance: identical output under adversarially different shuffle
  partitioning (the integer-arithmetic promise);
- plan: the per-iteration aggregation combines map-side and the plan
  carries no CartesianProduct.
"""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.graph import (
    PAGERANK_DAMPING,
    PAGERANK_SCALE,
    bipartite_order_edges,
    pagerank,
    pagerank_oracle_sql,
)


def _py_pagerank(
    edges, n_iter=3, scale=PAGERANK_SCALE, damping=PAGERANK_DAMPING, seeds=None
):
    """Independent reference: same integer update rule, plain dicts."""
    num, den = damping
    out = defaultdict(set)
    for s, d in set(edges):
        out[s].add(d)
    nodes = sorted({x for e in edges for x in e})
    seedset = set(nodes) if seeds is None else set(seeds) & set(nodes)
    n = len(seedset)
    base = (scale * (den - num)) // (n * den)
    rank = {v: (scale // n if v in seedset else 0) for v in nodes}
    for _ in range(n_iter):
        inflow = defaultdict(int)
        for u, ds in out.items():
            c = rank[u] // len(ds)
            for v in ds:
                inflow[v] += c
        rank = {
            v: (base if v in seedset else 0) + (num * inflow[v]) // den
            for v in nodes
        }
    return rank


GRAPHS = {
    "cycle_with_tail": [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 3), (6, 5)],
    # 4 is a dangling sink (rank in, nothing out) — mass exits
    "dangling_sink": [(1, 4), (2, 4), (3, 4), (1, 2), (2, 1)],
    "two_components": [(1, 2), (2, 1), (10, 11), (11, 12), (12, 10)],
    "self_loops_and_dups": [(1, 1), (1, 2), (1, 2), (2, 1), (3, 1)],
    "star_hub": [(i, 99) for i in range(1, 9)] + [(99, 1)],
}


@pytest.mark.parametrize("shape", sorted(GRAPHS))
def test_pagerank_matches_python_reference(spark, shape):
    edges = GRAPHS[shape]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank_micro"] for r in pagerank(df, n_iter=3).collect()}
    assert got == _py_pagerank(edges, n_iter=3)


@pytest.mark.parametrize("shape", sorted(GRAPHS))
def test_pagerank_oracle_sql_matches_python_reference(shape):
    edges = GRAPHS[shape]
    con = duckdb.connect()
    values = ",".join(f"({s},{d})" for s, d in edges)
    ctes = pagerank_oracle_sql(
        f"SELECT src, dst FROM (VALUES {values}) t(src, dst)", n_iter=3
    )
    got = {
        r[0]: r[1]
        for r in con.sql(f"WITH {ctes} SELECT id, rank_micro FROM r3").fetchall()
    }
    con.close()
    assert got == _py_pagerank(edges, n_iter=3)


def test_pagerank_total_mass_conserved_without_dangling(spark):
    """With no dangling nodes the update redistributes all mass: the
    total stays within N integer-floor truncations of `scale` each
    round (each node's div truncation loses < 1 micro-unit, plus the
    damping div loses < 1 per node, plus base rounding)."""
    edges = GRAPHS["cycle_with_tail"] + [(4, 5), (5, 6), (6, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = pagerank(df, n_iter=3)
    total = ranks.agg(F.sum("rank_micro")).collect()[0][0]
    n = ranks.count()
    # 3 iterations, each loses at most ~2 micro-units per node per stage
    assert PAGERANK_SCALE - total < 10 * n * 3
    assert total <= PAGERANK_SCALE


def test_pagerank_invariant_under_partitioning(spark):
    """Integer arithmetic makes the result bit-identical under
    adversarial layouts — the property float PageRank cannot offer."""
    edges = [(i, (i * 7) % 23) for i in range(23)] + [(i, (i + 1) % 23) for i in range(23)]
    df = spark.createDataFrame(edges, "src long, dst long")
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = sorted(tuple(r) for r in pagerank(df, n_iter=4).collect())
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        many = sorted(tuple(r) for r in pagerank(df.repartition(13), n_iter=4).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert one == many


def test_pagerank_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, n_iter=0)
    with pytest.raises(ValueError):
        pagerank(df, damping=(20, 17))
    # 0/negative thresholds would saturate __k at 2^31-1 (r12 ADVICE)
    with pytest.raises(ValueError, match="hot_src_threshold"):
        pagerank(df, hot_src_threshold=0)
    with pytest.raises(ValueError, match="hot_src_threshold"):
        pagerank(df, hot_src_threshold=-5)
    # seeds disjoint from the graph: no teleport target — explicit error
    seeds = spark.createDataFrame([(42,)], "id long")
    with pytest.raises(ValueError):
        pagerank(df, seeds=seeds)


@pytest.mark.parametrize("shape", ["cycle_with_tail", "star_hub"])
def test_personalized_pagerank_matches_python_reference(spark, shape):
    """Seeded teleport: mass concentrates around the seed set; Spark,
    the Python reference, and the DuckDB CTE replay agree bit-exactly."""
    edges = GRAPHS[shape]
    seed_ids = [1, 3]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in seed_ids], "id long")
    got = {
        r["id"]: r["rank_micro"]
        for r in pagerank(df, n_iter=3, seeds=seeds).collect()
    }
    want = _py_pagerank(edges, n_iter=3, seeds=seed_ids)
    assert got == want
    con = duckdb.connect()
    values = ",".join(f"({s},{d})" for s, d in edges)
    svalues = ",".join(f"({s})" for s in seed_ids)
    ctes = pagerank_oracle_sql(
        f"SELECT src, dst FROM (VALUES {values}) t(src, dst)",
        n_iter=3,
        seeds_sql=f"SELECT id FROM (VALUES {svalues}) s(id)",
    )
    duck = {
        r[0]: r[1]
        for r in con.sql(f"WITH {ctes} SELECT id, rank_micro FROM r3").fetchall()
    }
    con.close()
    assert duck == want
    # personalization bites: a non-seed node far from the seeds ranks
    # below its unpersonalized self relative to total mass
    assert got != _py_pagerank(edges, n_iter=3)


def test_bipartite_edges_shape(spark, sf_smoke):
    od = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    e = bipartite_order_edges(od, li)
    row = e.agg(
        F.sum((F.col("src") % 2 == 0).cast("int")).alias("cust_src"),
        F.sum((F.col("src") % 2 == 1).cast("int")).alias("supp_src"),
    ).collect()[0]
    # symmetric emission: every customer→supplier edge has its mirror
    assert row["cust_src"] == row["supp_src"]
    # parity encoding keeps the id spaces disjoint
    custs = e.filter(F.col("src") % 2 == 0).select(
        (F.col("src") / 2).cast("long").alias("k")
    )
    n_cust = custs.distinct().count()
    assert 0 < n_cust <= od.select("o_custkey").distinct().count()


def _py_pagerank_weighted(
    wedges, n_iter=3, scale=PAGERANK_SCALE, damping=PAGERANK_DAMPING
):
    """Weighted reference: contrib(u→v) = (rank·w) // W(u) per edge."""
    num, den = damping
    w = defaultdict(int)
    for s, d, wt in wedges:
        w[(s, d)] += wt
    outw = defaultdict(int)
    for (s, _d), wt in w.items():
        outw[s] += wt
    nodes = sorted({x for s, d, _ in wedges for x in (s, d)})
    n = len(nodes)
    base = (scale * (den - num)) // (n * den)
    rank = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        inflow = defaultdict(int)
        for (s, d), wt in w.items():
            inflow[d] += (rank[s] * wt) // outw[s]
        rank = {v: base + (num * inflow[v]) // den for v in nodes}
    return rank


def test_weighted_pagerank_matches_python_and_duckdb(spark):
    """Weighted walk: mass follows edge multiplicities; Spark, the
    Python reference, and the DuckDB CTE replay agree bit-exactly, and
    the result differs from the unweighted walk on the same topology."""
    wedges = [(1, 2, 5), (1, 3, 1), (2, 1, 2), (3, 1, 1), (3, 2, 7), (2, 3, 1)]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = {
        r["id"]: r["rank_micro"]
        for r in pagerank(df, n_iter=3, weight_col="w").collect()
    }
    want = _py_pagerank_weighted(wedges, n_iter=3)
    assert got == want
    con = duckdb.connect()
    values = ",".join(f"({s},{d},{w})" for s, d, w in wedges)
    ctes = pagerank_oracle_sql(
        f"SELECT src, dst, w FROM (VALUES {values}) t(src, dst, w)",
        n_iter=3,
        weighted=True,
    )
    duck = {
        r[0]: r[1]
        for r in con.sql(f"WITH {ctes} SELECT id, rank_micro FROM r3").fetchall()
    }
    con.close()
    assert duck == want
    unweighted = _py_pagerank([(s, d) for s, d, _ in wedges], n_iter=3)
    assert got != unweighted


def test_weighted_pagerank_rejects_hostile_weights(spark):
    bad = spark.createDataFrame([(1, 2, 0), (2, 1, 3)], "src long, dst long, w long")
    with pytest.raises(ValueError):
        pagerank(bad, weight_col="w")
    huge = spark.createDataFrame(
        [(1, 2, 10**13), (2, 1, 3)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError):
        pagerank(huge, weight_col="w")


def test_weighted_bipartite_edges_sql_mirror(spark, sf_smoke):
    """bipartite_order_edges(weighted=True) == the SQL constant's edge
    set, weight-for-weight (DuckDB replay)."""
    from etl_instagram_spark.operators.graph import (
        BIPARTITE_ORDER_EDGES_WEIGHTED_SQL,
    )

    od = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    got = sorted(
        tuple(r) for r in bipartite_order_edges(od, li, weighted=True).collect()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{sf_smoke}/orders.parquet'")
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_smoke}/lineitem.parquet'")
    want = sorted(con.sql(BIPARTITE_ORDER_EDGES_WEIGHTED_SQL).fetchall())
    con.close()
    assert got == want


def test_triangle_counts_hand_and_differential(spark):
    """K4 + a pendant: K4 nodes sit in 3 triangles each (coeff 1.0),
    the pendant in none (degree 1 → NULL coeff); reversed/duplicate
    edges collapse. Cross-checked against itertools and DuckDB."""
    import itertools

    from etl_instagram_spark.operators.graph import (
        triangle_counts,
        triangle_counts_sql,
    )

    k4 = list(itertools.combinations([1, 2, 3, 4], 2))
    edges = k4 + [(4, 3), (2, 1), (5, 1)]  # dups reversed + pendant 5
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: tuple(r)[1:] for r in triangle_counts(df).collect()}
    assert got[1] == (3, 4, 0.5)  # degree 4 (K4 + pendant): 3/(4*3/2)
    for v in (2, 3, 4):
        assert got[v] == (3, 3, 1.0)
    assert got[5] == (0, 1, None)
    # python reference over the simple graph
    simple = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in simple for x in e})
    tri = {
        t: sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if t in (a, b, c)
            and {(a, b), (b, c), (a, c)} <= simple
        )
        for t in nodes
    }
    assert {i: got[i][0] for i in nodes} == tri
    con = duckdb.connect()
    values = ",".join(f"({s},{d})" for s, d in edges)
    duck = {
        r[0]: r[1:]
        for r in con.sql(
            triangle_counts_sql(
                f"SELECT src, dst FROM (VALUES {values}) t(src, dst)"
            )
        ).fetchall()
    }
    con.close()
    assert duck == got


def test_copurchase_edges_projection(spark, sf_smoke):
    from etl_instagram_spark.operators.graph import copurchase_edges

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    e = copurchase_edges(li, min_orders=2)
    rows = e.collect()
    assert all(r["src"] < r["dst"] for r in rows)
    # threshold monotonicity: raising min_orders can only shrink
    assert copurchase_edges(li, min_orders=5).count() <= len(rows)


def test_random_walks_deterministic_and_cross_engine(spark):
    """Walks are a pure function of (graph, seed): identical under
    repartitioning AND identical to the DuckDB replay; a dangling node
    truncates its walk instead of padding."""
    from etl_instagram_spark.operators.graph import (
        random_walks,
        random_walks_sql,
    )

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (2, 1), (4, 5)]  # 5 dangles
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        tuple(r) for r in random_walks(df, walk_len=3, seed="t").collect()
    )
    again = sorted(
        tuple(r)
        for r in random_walks(df.repartition(7), walk_len=3, seed="t").collect()
    )
    assert got == again
    con = duckdb.connect()
    values = ",".join(f"({s},{d})" for s, d in edges)
    ctes = random_walks_sql(
        f"SELECT src, dst FROM (VALUES {values}) t(src, dst)",
        walk_len=3,
        seed="t",
    )
    duck = sorted(
        con.sql(f"WITH {ctes} SELECT walk_id, step, node FROM walks").fetchall()
    )
    con.close()
    assert got == duck
    by_walk = {}
    for wid, step, node in got:
        by_walk.setdefault(wid, []).append((step, node))
    # every step-i node is a real neighbor of the step-(i-1) node
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    for wid, path in by_walk.items():
        path.sort()
        assert path[0] == (0, wid)
        for (s0, n0), (s1, n1) in zip(path, path[1:]):
            assert s1 == s0 + 1 and n1 in adj[n0]
    # walk from 5 stops immediately; walk through 4 ends at 5
    assert len(by_walk[5]) == 1
    assert by_walk[4] == [(0, 4), (1, 5)]
    # different seed, different corpus (on this graph)
    other = sorted(
        tuple(r) for r in random_walks(df, walk_len=3, seed="u").collect()
    )
    assert got != other
    with pytest.raises(ValueError):
        random_walks(df, walk_len=0)


def test_pagerank_iteration_aggregation_combines_map_side(spark):
    """The per-iteration inflow sum must carry partial_sum below its
    exchange — at 100 TB the shuffle then moves <= |nodes| rows per
    partition instead of one row per edge."""
    edges = [(i, (i + 1) % 50) for i in range(50)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = pagerank(df, n_iter=1)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the final select sits on the post-checkpoint LogicalRDD; the
    # aggregation shape is asserted by planning one update step raw
    from pyspark.sql import functions as FF

    e = df.distinct()
    contrib = e.groupBy("src").agg(FF.count(FF.lit(1)).alias("outdeg"))
    step = (
        e.join(contrib, "src")
        .groupBy("dst")
        .agg(FF.sum(FF.expr("outdeg")).alias("inflow"))
    )
    splan = step._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in splan or "partial_count" in splan, splan


def test_triangle_counts_hub_skew_and_partition_invariance(spark):
    """A hub graph (star center in most edges) plus random chords: the
    degree-ordered orientation must still produce exact counts — checked
    against an itertools reference — and be invariant under
    repartitioning. This is the correctness face of the O(m^1.5) wedge
    bound; the cost face is tools/scale_smoke.py's hub-skew entry."""
    import itertools
    import random

    from etl_instagram_spark.operators.graph import (
        triangle_counts,
        triangle_counts_sql,
    )

    rng = random.Random(7)
    n = 40
    edges = [(0, v) for v in range(1, n)]  # hub 0 in every edge
    edges += [
        (rng.randrange(1, n), rng.randrange(1, n)) for _ in range(120)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: tuple(r)[1:] for r in triangle_counts(df).collect()}
    again = {
        r["id"]: tuple(r)[1:]
        for r in triangle_counts(df.repartition(13)).collect()
    }
    assert got == again
    simple = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in simple for x in e})
    want_tri = {
        t: sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if t in (a, b, c) and {(a, b), (b, c), (a, c)} <= simple
        )
        for t in nodes
    }
    assert {i: got[i][0] for i in nodes} == want_tri
    # hub degree must match too (orientation must not lose edges)
    assert got[0][1] == len({e for e in simple if 0 in e})
    import duckdb

    con = duckdb.connect()
    values = ",".join(f"({s},{d})" for s, d in edges)
    duck = {
        r[0]: r[1:]
        for r in con.sql(
            triangle_counts_sql(
                f"SELECT src, dst FROM (VALUES {values}) t(src, dst)"
            )
        ).fetchall()
    }
    con.close()
    assert duck == got


def test_random_walks_max_degree_cap(spark):
    """The enforced hub cap: adjacency truncates to the sorted prefix,
    so every capped step lands in the node's max_degree SMALLEST
    neighbors; walks stay deterministic under repartitioning, the
    DuckDB mirror replays the capped walks exactly, and walk starts
    are NOT lost when a node's only in-edges are truncated away."""
    import duckdb

    from etl_instagram_spark.operators.graph import (
        random_walks,
        random_walks_sql,
    )

    # hub 1 → 2..9; nodes 2..9 → 1 (cycle back); node 9 reachable only
    # through the hub's truncated tail
    edges = [(1, v) for v in range(2, 10)] + [(v, 1) for v in range(2, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        tuple(r)
        for r in random_walks(df, walk_len=3, seed="c", max_degree=3).collect()
    )
    again = sorted(
        tuple(r)
        for r in random_walks(
            df.repartition(5), walk_len=3, seed="c", max_degree=3
        ).collect()
    )
    assert got == again
    # every step out of hub 1 lands in its 3 smallest neighbors {2,3,4}
    hub_steps = {
        node
        for wid, step, node in got
        if step >= 1
        and any(
            (w2, s2, n2) == (wid, step - 1, 1) for (w2, s2, n2) in got
        )
    }
    assert hub_steps <= {2, 3, 4}
    # node 9 still starts a walk (start set is uncapped)
    assert (9, 0, 9) in got
    # cap >= max degree is a no-op
    uncapped = sorted(
        tuple(r) for r in random_walks(df, walk_len=3, seed="c").collect()
    )
    wide = sorted(
        tuple(r)
        for r in random_walks(df, walk_len=3, seed="c", max_degree=99).collect()
    )
    assert uncapped == wide
    con = duckdb.connect()
    values = ",".join(f"({s},{d})" for s, d in edges)
    ctes = random_walks_sql(
        f"SELECT src, dst FROM (VALUES {values}) t(src, dst)",
        walk_len=3,
        seed="c",
        max_degree=3,
    )
    duck = sorted(
        con.sql(f"WITH {ctes} SELECT walk_id, step, node FROM walks").fetchall()
    )
    con.close()
    assert got == duck


def _py_pagerank_redistribute(
    edges, n_iter=3, scale=PAGERANK_SCALE, damping=PAGERANK_DAMPING
):
    """Reference for the redistribute-dangling formulation: same integer
    rule plus each round's dangling mass shared div-uniformly."""
    from collections import defaultdict as dd

    num, den = damping
    out = dd(set)
    for s, d in set(edges):
        out[s].add(d)
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    base = (scale * (den - num)) // (n * den)
    rank = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        dang = sum(rank[v] for v in nodes if v not in out)
        share = dang // n
        inflow = dd(int)
        for u, ds in out.items():
            c = rank[u] // len(ds)
            for v in ds:
                inflow[v] += c
        rank = {v: base + (num * (inflow[v] + share)) // den for v in nodes}
    return rank


@pytest.mark.parametrize("shape", ["dangling_sink", "star_hub", "two_components"])
def test_pagerank_redistribute_dangling(spark, shape):
    """The standard redistribute formulation: Spark, the Python
    reference, and the DuckDB CTE replay agree bit-exactly; total mass
    is conserved up to floor dust even WITH dangling sinks (the
    exit-mass default leaks it); invariant under repartitioning."""
    edges = GRAPHS[shape]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["rank_micro"]
        for r in pagerank(df, n_iter=3, redistribute_dangling=True).collect()
    }
    want = _py_pagerank_redistribute(edges, n_iter=3)
    assert got == want
    again = {
        r["id"]: r["rank_micro"]
        for r in pagerank(
            df.repartition(7), n_iter=3, redistribute_dangling=True
        ).collect()
    }
    assert again == got
    n = len(want)
    total = sum(got.values())
    assert PAGERANK_SCALE - total < 10 * n * 3
    assert total <= PAGERANK_SCALE
    con = duckdb.connect()
    values = ",".join(f"({s},{d})" for s, d in edges)
    ctes = pagerank_oracle_sql(
        f"SELECT src, dst FROM (VALUES {values}) t(src, dst)",
        n_iter=3,
        redistribute_dangling=True,
    )
    duck = {
        r[0]: r[1]
        for r in con.sql(f"WITH {ctes} SELECT id, rank_micro FROM r3").fetchall()
    }
    con.close()
    assert duck == got


def test_weighted_pagerank_rejects_null_weights(spark):
    """NULL weights would silently drop their edges' inflow (sum skips
    NULLs); the setup bounds agg rejects them loudly instead."""
    df = spark.createDataFrame(
        [(1, 2, 3), (2, 1, None), (1, 3, 2)],
        "src long, dst long, w long",
    )
    with pytest.raises(ValueError, match="NULL"):
        pagerank(df, weight_col="w")


def _py_k_core(edges, k):
    """Reference: peel nodes with degree < k to a fixpoint."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        es2 = {(a, b) for a, b in es if a in keep and b in keep}
        if es2 == es:
            break
        es = es2
    deg = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return deg


def test_k_core_hand_reference_and_cross_engine(spark):
    """K4 with a tail chain: the 3-core is exactly K4 (peeling the
    chain cascades); matches the Python reference, the DuckDB mirror,
    and is invariant under repartitioning. The oracle's fixed round
    budget fails loudly when too shallow for a long peel cascade."""
    import itertools

    import duckdb

    from etl_instagram_spark.operators.graph import k_core, k_core_sql

    k4 = list(itertools.combinations([1, 2, 3, 4], 2))
    # tail 4-5-6-7 peels one hop per synchronous round
    edges = k4 + [(4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["core_degree"] for r in k_core(df, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    assert got == _py_k_core(edges, 3)
    assert {
        r["id"]: r["core_degree"]
        for r in k_core(df.repartition(7), k=3).collect()
    } == got
    # 2-core keeps K4 only as well (the chain has degree-1 ends)
    assert _py_k_core(edges, 2) == {
        r["id"]: r["core_degree"] for r in k_core(df, k=2).collect()
    }
    con = duckdb.connect()
    values = ",".join(f"({s},{d})" for s, d in edges)
    ctes = k_core_sql(
        f"SELECT src, dst FROM (VALUES {values}) t(src, dst)", k=3, rounds=8
    )
    duck = dict(
        con.sql(
            f"WITH {ctes} SELECT id, count(*) FROM"
            " (SELECT lo AS id FROM core UNION ALL SELECT hi FROM core)"
            " GROUP BY id"
        ).fetchall()
    )
    assert duck == got
    # loud non-convergence: a long chain at k=2 peels one end pair per
    # round; rounds=2 cannot finish
    chain = ",".join(f"({i},{i+1})" for i in range(1, 12))
    shallow = k_core_sql(
        f"SELECT src, dst FROM (VALUES {chain}) t(src, dst)", k=2, rounds=2
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="not converged"):
        con.sql(f"WITH {shallow} SELECT count(*) FROM core").fetchall()
    con.close()


def test_k_core_on_real_copurchase_graph(spark, sf_smoke):
    """Real-data differential: k-core of the co-purchase projection
    equals the Python peel, and core degrees are all >= k."""
    from etl_instagram_spark.operators.graph import copurchase_edges, k_core

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    e = copurchase_edges(li, min_orders=2)
    got = {r["id"]: r["core_degree"] for r in k_core(e, k=3).collect()}
    edges = [(r["src"], r["dst"]) for r in e.collect()]
    assert got == _py_k_core(edges, 3)
    assert all(d >= 3 for d in got.values())


def test_weighted_random_walks_cross_engine_and_bias(spark):
    """Weighted walks: the interval pick follows P(v→u) = w/W(v) — a
    dominant weight attracts most steps; w=1 everywhere reduces to the
    unweighted walk exactly; deterministic under repartitioning and
    replayed by the DuckDB mirror; NULL/non-positive weights rejected."""
    import duckdb

    from etl_instagram_spark.operators.graph import (
        random_walks,
        random_walks_sql,
    )

    # node 1 → {2 (w=97), 3 (w=1), 4 (w=2)}; all return to 1
    edges = [(1, 2, 97), (1, 3, 1), (1, 4, 2), (2, 1, 1), (3, 1, 1), (4, 1, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = sorted(
        tuple(r)
        for r in random_walks(
            df, walk_len=6, seed="wb", weight_col="w"
        ).collect()
    )
    again = sorted(
        tuple(r)
        for r in random_walks(
            df.repartition(5), walk_len=6, seed="wb", weight_col="w"
        ).collect()
    )
    assert got == again
    # steps out of node 1 should overwhelmingly land on 2
    from_one = [
        n2
        for (w1, s1, n1) in got
        for (w2, s2, n2) in got
        if w1 == w2 and s2 == s1 + 1 and n1 == 1
    ]
    assert from_one and from_one.count(2) / len(from_one) > 0.7
    con = duckdb.connect()
    values = ",".join(f"({a},{b},{w})" for a, b, w in edges)
    ctes = random_walks_sql(
        f"SELECT src, dst, w FROM (VALUES {values}) t(src, dst, w)",
        walk_len=6,
        seed="wb",
        weighted=True,
    )
    duck = sorted(
        con.sql(f"WITH {ctes} SELECT walk_id, step, node FROM walks").fetchall()
    )
    con.close()
    assert duck == got
    # w = 1 everywhere == the unweighted walk, bit for bit
    ones = spark.createDataFrame(
        [(a, b, 1) for a, b, _ in edges], "src long, dst long, w long"
    )
    ww = sorted(
        tuple(r)
        for r in random_walks(
            ones, walk_len=4, seed="eq", weight_col="w"
        ).collect()
    )
    uw = sorted(
        tuple(r)
        for r in random_walks(
            ones.select("src", "dst"), walk_len=4, seed="eq"
        ).collect()
    )
    assert ww == uw
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(1, 2, 0), (2, 1, -1)], "src long, dst long, w long"
    )
    with _pytest.raises(ValueError, match="positive"):
        random_walks(bad, weight_col="w")
    nul = spark.createDataFrame(
        [(1, 2, None), (2, 1, 1)], "src long, dst long, w long"
    )
    with _pytest.raises(ValueError, match="NULL"):
        random_walks(nul, weight_col="w")


def test_pagerank_hot_src_salting_bit_identical(spark):
    """The power-law skew guard (hot_src_threshold) is partitioning
    metadata only: forcing every source to salt (threshold=2) must
    reproduce the unsalted ranks bit for bit on every variant — plain,
    weighted, personalized, and redistribute-dangling — because the
    per-edge contribs are unchanged and int64 sums are
    order-independent."""
    # hub 0 → 1..12 (out-degree 12 ≫ threshold), chords + a dangler
    edges = (
        [(0, i) for i in range(1, 13)]
        + [(i, 0) for i in range(1, 7)]
        + [(1, 2), (2, 3), (3, 4), (4, 5), (12, 13)]  # 13 dangles
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    plain = sorted(tuple(r) for r in pagerank(df, n_iter=3, hot_src_threshold=None).collect())
    salted = sorted(tuple(r) for r in pagerank(df, n_iter=3, hot_src_threshold=2).collect())
    assert plain == salted
    # the guard must not drift from the independent reference either
    assert {i: r for i, r in salted} == _py_pagerank(edges, n_iter=3)

    seeds = spark.createDataFrame([(1,), (5,)], "id long")
    p_seed = sorted(
        tuple(r)
        for r in pagerank(df, n_iter=3, seeds=seeds, hot_src_threshold=None).collect()
    )
    s_seed = sorted(
        tuple(r)
        for r in pagerank(df, n_iter=3, seeds=seeds, hot_src_threshold=2).collect()
    )
    assert p_seed == s_seed

    p_red = sorted(
        tuple(r)
        for r in pagerank(
            df, n_iter=3, redistribute_dangling=True, hot_src_threshold=None
        ).collect()
    )
    s_red = sorted(
        tuple(r)
        for r in pagerank(
            df, n_iter=3, redistribute_dangling=True, hot_src_threshold=2
        ).collect()
    )
    assert p_red == s_red

    wdf = spark.createDataFrame(
        [(s, d, (s + d) % 5 + 1) for s, d in edges], "src long, dst long, w long"
    )
    p_w = sorted(
        tuple(r)
        for r in pagerank(wdf, n_iter=3, weight_col="w", hot_src_threshold=None).collect()
    )
    s_w = sorted(
        tuple(r)
        for r in pagerank(wdf, n_iter=3, weight_col="w", hot_src_threshold=2).collect()
    )
    assert p_w == s_w


def test_weighted_random_walks_rejects_int64_overflow_weights(spark):
    """ADVICE r11: the interval pick's per-node cumulative sum must fit
    int64 — validated at setup (max capped out-degree × max weight,
    exact Python ints), mirroring pagerank's rank·w bound, so Spark
    cannot silently wrap where the DuckDB mirror's ::BIGINT errors."""
    from etl_instagram_spark.operators.graph import random_walks

    big = 2**62
    df = spark.createDataFrame(
        [(1, 2, big), (1, 3, big), (2, 1, 1), (3, 1, 1)],
        "src long, dst long, w long",
    )
    with pytest.raises(ValueError, match="overflow int64"):
        random_walks(df, walk_len=2, weight_col="w")
    # the same weights under a degree cap of 1 are safe — the bound
    # must use the CAPPED degree
    ok = random_walks(df, walk_len=2, weight_col="w", max_degree=1)
    assert ok.count() > 0
    # a single huge-but-safe weight also passes
    safe = spark.createDataFrame(
        [(1, 2, big), (2, 1, 1)], "src long, dst long, w long"
    )
    assert random_walks(safe, walk_len=2, weight_col="w").count() > 0


def test_k_core_peel_depth_within_half_the_oracle_budget(spark, sf_oracle):
    """The part_k_core oracle replays the peel as a FIXED 24-round CTE
    chain with a loud convergence assert; pin the margin the same way
    the CC oracle's is pinned: the real co-purchase graph at the gate
    scale factor AND at sf0.1 must reach its fixpoint within
    rounds/2 = 12 synchronous SHRINKING rounds (k_core's max_rounds
    budget raises if not; the fixpoint-confirming no-op round is free;
    measured shrinking depth is 10 at sf0.01, 2 at sf0.1), so the
    oracle budget carries a >= 2x cushion — and extra CTE rounds are
    no-ops once the edge set is stable."""
    from etl_instagram_spark.operators.graph import copurchase_edges, k_core

    for sf_dir in (sf_oracle, "/root/testdata/sf0.1"):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        core = k_core(copurchase_edges(li, min_orders=2), k=3, max_rounds=12)
        assert core.count() >= 0  # materialize: the budget is the assert
    # the budget itself fails loudly: a chain at k=2 peels one end
    # pair per round — 2 rounds cannot finish an 11-edge path
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        k_core(chain, k=2, max_rounds=2)
    with pytest.raises(ValueError, match="max_rounds"):
        k_core(chain, k=2, max_rounds=0)


def test_graph_family_composition_copurchase_core_walks(spark, sf_smoke):
    """The graph family composes end-to-end (SURVEY §8 composition
    example): co-purchase projection (with n_orders weights) → k-core
    denoise (keep the densely-connected backbone, drop tendrils) →
    weighted hub-capped deterministic walks over the core → a walk
    corpus. Asserts the chain's invariants: core restriction actually
    shrinks the graph, every walk starts at a core node and never
    leaves the core, and the corpus is a pure function of
    (graph, seed) — a replay is row-identical."""
    from etl_instagram_spark.operators.graph import (
        copurchase_edges,
        k_core,
        random_walks,
    )

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    e = copurchase_edges(li, min_orders=3, weights=True).localCheckpoint(
        eager=True
    )
    core = k_core(e, k=3, max_rounds=12).localCheckpoint(eager=True)
    core_ids = {r["id"] for r in core.collect()}
    assert 0 < len(core_ids)
    all_ids = {
        r["id"]
        for r in e.selectExpr("src AS id")
        .union(e.selectExpr("dst AS id"))
        .distinct()
        .collect()
    }
    assert core_ids < all_ids  # the denoise dropped tendril nodes
    # restrict edges to the core, symmetrize for walking
    ids = core.select("id")
    ce = (
        e.join(ids.withColumnRenamed("id", "src"), "src", "leftsemi")
        .join(ids.withColumnRenamed("id", "dst"), "dst", "leftsemi")
        .select("src", "dst", "n_orders")
    )
    sym = ce.unionByName(
        ce.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "n_orders",
        )
    ).localCheckpoint(eager=True)
    corpus = random_walks(
        sym, walk_len=4, seed="compose", max_degree=8, weight_col="n_orders"
    )
    rows = corpus.collect()
    assert rows
    # every visited node is a core node; every core node starts a walk
    assert {r["node"] for r in rows} <= core_ids
    assert {r["walk_id"] for r in rows if r["step"] == 0} == core_ids
    # symmetrized core has no dangling nodes -> full-length walks
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], []).append(r["step"])
    assert all(sorted(v) == [0, 1, 2, 3, 4] for v in by_walk.values())
    # deterministic corpus: replay is row-identical
    replay = random_walks(
        sym, walk_len=4, seed="compose", max_degree=8, weight_col="n_orders"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, replay))


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------


def _lpa_edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_lpa_hand_case_communities_and_cross_engine(spark):
    """Two triangles joined by one bridge plus an isolated pair: three
    communities, and the assignment replays bit-for-bit in DuckDB."""
    from etl_instagram_spark.operators.graph import (
        label_propagation,
        label_propagation_sql,
    )

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10), (20, 21)]
    got = sorted(
        tuple(r)
        for r in label_propagation(_lpa_edges_df(spark, edges), n_rounds=5).collect()
    )
    es = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in edges)
        + ") t(src, dst)"
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            "WITH "
            + label_propagation_sql(es, n_rounds=5)
            + " SELECT id, label FROM labels"
        ).fetchall()
    )
    assert got == want
    lbl = dict(got)
    assert lbl[1] == lbl[2] == lbl[3]
    assert lbl[10] == lbl[11] == lbl[12]
    assert lbl[20] == lbl[21]
    # the bridge does NOT merge the two triangles (each side's internal
    # majority out-votes the single bridge neighbor)
    assert lbl[1] != lbl[10]
    assert lbl[1] != lbl[20]


def test_lpa_self_vote_converges_on_bipartite_cycle(spark):
    """The classic synchronous-LPA failure: a 4-cycle is bipartite, so
    neighbors-only updates oscillate 2-colorings forever. The default
    include_self vote damps it — all four nodes agree within 3 rounds
    (hand-traced: labels collapse to min id 1)."""
    from etl_instagram_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    got = {
        r["id"]: r["label"]
        for r in label_propagation(_lpa_edges_df(spark, edges), n_rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    # neighbors-only stays deterministic (and cross-engine identical)
    # even where it oscillates
    from etl_instagram_spark.operators.graph import label_propagation_sql

    osc = sorted(
        tuple(r)
        for r in label_propagation(
            _lpa_edges_df(spark, edges), n_rounds=4, include_self=False
        ).collect()
    )
    es = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in edges)
        + ") t(src, dst)"
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            "WITH "
            + label_propagation_sql(es, n_rounds=4, include_self=False)
            + " SELECT id, label FROM labels"
        ).fetchall()
    )
    assert osc == want


def test_lpa_partitioning_invariant_and_deterministic(spark):
    from etl_instagram_spark.operators.graph import label_propagation

    edges = [(i, (i * 7) % 40) for i in range(120) if i != (i * 7) % 40]
    base = _lpa_edges_df(spark, edges)
    a = sorted(
        tuple(r)
        for r in label_propagation(base.repartition(1), n_rounds=4).collect()
    )
    b = sorted(
        tuple(r)
        for r in label_propagation(base.repartition(11, "dst"), n_rounds=4).collect()
    )
    assert a == b
    # rerun equality (no hidden state)
    c = sorted(
        tuple(r)
        for r in label_propagation(base, n_rounds=4).collect()
    )
    assert a == c


def test_lpa_drops_self_loops_and_validates_rounds(spark):
    from etl_instagram_spark.operators.graph import (
        label_propagation,
        label_propagation_sql,
    )

    # a node with ONLY a self-loop has no undirected neighbors — it is
    # not part of the graph's node set (same contract both engines)
    edges = [(5, 5), (1, 2)]
    got = {
        r["id"] for r in label_propagation(_lpa_edges_df(spark, edges), 2).collect()
    }
    assert got == {1, 2}
    with pytest.raises(ValueError, match="n_rounds"):
        label_propagation(_lpa_edges_df(spark, edges), n_rounds=0)
    with pytest.raises(ValueError, match="n_rounds"):
        label_propagation_sql("SELECT 1, 2", n_rounds=0)


def test_lpa_on_real_copurchase_graph_cross_engine(spark, sf_smoke):
    """The full assignment over the real sf0.001 co-purchase projection
    replays in DuckDB — every (id, label) row, not just a summary."""
    from etl_instagram_spark.operators.graph import (
        COPURCHASE_EDGES_SQL,
        copurchase_edges,
        label_propagation,
        label_propagation_sql,
    )

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    got = sorted(
        tuple(r)
        for r in label_propagation(
            copurchase_edges(li, min_orders=2), n_rounds=4
        ).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_smoke}/lineitem.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.sql(
            "WITH "
            + label_propagation_sql(
                COPURCHASE_EDGES_SQL.format(min_orders=2), n_rounds=4
            )
            + " SELECT id, label FROM labels"
        ).fetchall()
    )
    assert len(got) > 0
    assert got == want


# ---------------------------------------------------------------------------
# node2vec second-order biased walks
# ---------------------------------------------------------------------------

N2V_EDGES = [
    (1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (3, 4), (4, 3),
    (4, 5), (5, 4), (5, 3), (3, 5), (1, 4), (4, 1), (6, 1), (1, 6),
]


def _n2v_df(spark, edges=None):
    return spark.createDataFrame(edges or N2V_EDGES, "src long, dst long")


@pytest.mark.parametrize(
    "weights", [(1, 1, 1), (1, 1, 2), (0, 1, 4), (2, 3, 1)]
)
def test_node2vec_cross_engine_across_weight_configs(spark, weights):
    from etl_instagram_spark.operators.graph import (
        random_walks,
        node2vec_walks_sql,
    )

    rw, cw, fw = weights
    got = sorted(
        tuple(r)
        for r in random_walks(
            _n2v_df(spark), walk_len=5, seed="nv",
            return_w=rw, common_w=cw, far_w=fw,
        ).collect()
    )
    es = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in N2V_EDGES)
        + ") t(src, dst)"
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            "WITH "
            + node2vec_walks_sql(
                es, walk_len=5, seed="nv",
                return_w=rw, common_w=cw, far_w=fw,
            )
            + " SELECT walk_id, step, node FROM walks"
        ).fetchall()
    )
    assert len(got) > 0
    assert got == want


def test_node2vec_pure_return_oscillates_exactly(spark):
    """(return_w, common_w, far_w) = (1, 0, 0): from step 2 on, the
    ONLY positive-weight neighbor is prev, so every walk oscillates
    start ↔ first-hop deterministically — even steps revisit the step-0
    node, odd steps the step-1 node. An exact semantic pin of the
    second-order bias (no probability tolerance needed)."""
    from etl_instagram_spark.operators.graph import random_walks

    walks = random_walks(
        _n2v_df(spark), walk_len=6, seed="osc",
        return_w=1, common_w=0, far_w=0,
    )
    byw = {}
    for r in walks.collect():
        byw.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    assert len(byw) == 6
    for wid, steps in byw.items():
        assert len(steps) == 7  # the oscillation never strands a walk
        for s, node in steps.items():
            assert node == (steps[0] if s % 2 == 0 else steps[1]), (s, node)


def test_node2vec_nonbacktracking_stops_on_path(spark):
    """return_w = 0 on a two-node path: after the forced first hop the
    only neighbor is prev with weight 0 → total weight 0 → the walk
    STOPS (the documented dangling-like stop), both engines."""
    from etl_instagram_spark.operators.graph import (
        random_walks,
        node2vec_walks_sql,
    )

    e = _n2v_df(spark, [(7, 8), (8, 7)])
    got = sorted(
        tuple(r)
        for r in random_walks(e, walk_len=4, seed="nv", return_w=0).collect()
    )
    assert got == [(7, 0, 7), (7, 1, 8), (8, 0, 8), (8, 1, 7)]
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            "WITH "
            + node2vec_walks_sql(
                "SELECT * FROM (VALUES (7, 8), (8, 7)) t(src, dst)",
                walk_len=4,
                seed="nv",
                return_w=0,
            )
            + " SELECT walk_id, step, node FROM walks"
        ).fetchall()
    )
    assert got == want


def test_node2vec_capped_parity_and_validation(spark):
    from etl_instagram_spark.operators.graph import (
        random_walks,
        node2vec_walks_sql,
    )

    got = sorted(
        tuple(r)
        for r in random_walks(
            _n2v_df(spark), walk_len=4, seed="cap", far_w=3, max_degree=2
        ).collect()
    )
    es = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in N2V_EDGES)
        + ") t(src, dst)"
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            "WITH "
            + node2vec_walks_sql(
                es, walk_len=4, seed="cap", far_w=3, max_degree=2
            )
            + " SELECT walk_id, step, node FROM walks"
        ).fetchall()
    )
    assert got == want
    with pytest.raises(ValueError, match="non-negative"):
        random_walks(_n2v_df(spark), return_w=-1)
    with pytest.raises(ValueError, match="all be zero"):
        random_walks(_n2v_df(spark), return_w=0, common_w=0, far_w=0)
    with pytest.raises(ValueError, match="walk_len"):
        random_walks(_n2v_df(spark), walk_len=0)
    with pytest.raises(ValueError, match="non-negative"):
        node2vec_walks_sql("SELECT 1, 2", far_w=-2)


def test_node2vec_composes_with_embedding_chain(spark):
    """The (walk_id, step, node) schema is random_walks-compatible, so
    the co-occurrence → PPMI → projection chain runs unchanged on a
    biased corpus."""
    from etl_instagram_spark.operators.graph import random_walks
    from etl_instagram_spark.operators.graph_embed import (
        ppmi_scores,
        walk_cooccurrence,
        walk_embeddings,
    )

    walks = random_walks(_n2v_df(spark), walk_len=4, seed="cmp", far_w=2)
    emb = walk_embeddings(
        ppmi_scores(walk_cooccurrence(walks, window=2)), dim=8, seed="e"
    ).collect()
    assert len(emb) > 0
    assert all(len(r["emb"]) == 8 for r in emb)


N2V_WEDGES = [
    (1, 2, 5), (2, 1, 5), (2, 3, 1), (3, 2, 1), (3, 1, 9), (1, 3, 9),
    (3, 4, 2), (4, 3, 2), (4, 5, 7), (5, 4, 7), (5, 3, 1), (3, 5, 1),
    (1, 4, 3), (4, 1, 3),
]


def test_node2vec_weighted_cross_engine(spark):
    """Weighted node2vec (α · edge weight transition intervals, the
    paper's full formulation) replays bit-for-bit in DuckDB, hub cap
    engaged."""
    from etl_instagram_spark.operators.graph import (
        random_walks,
        node2vec_walks_sql,
    )

    e = spark.createDataFrame(N2V_WEDGES, "src long, dst long, w long")
    got = sorted(
        tuple(r)
        for r in random_walks(
            e, walk_len=5, seed="wv", far_w=3, weight_col="w", max_degree=8
        ).collect()
    )
    es = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b},{w})" for a, b, w in N2V_WEDGES)
        + ") t(src, dst, w)"
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            "WITH "
            + node2vec_walks_sql(
                es, walk_len=5, seed="wv", far_w=3, max_degree=8,
                weighted=True,
            )
            + " SELECT walk_id, step, node FROM walks"
        ).fetchall()
    )
    assert len(got) > 0
    assert got == want


def test_node2vec_uniform_alpha_reduces_to_weighted_random_walks(spark):
    """α = (1, 1, 1) is the first-order walk: every second-order
    transition weight is exactly the edge weight (1 unweighted) and the
    step hash domain is shared, so the kernel's output — weighted and
    unweighted — equals BOTH independent DuckDB references at the same
    seed: random_walks_sql (first-order) and node2vec_walks_sql at
    α = (1, 1, 1) (second-order, prev's adjacency joined every step)."""
    from etl_instagram_spark.operators.graph import (
        node2vec_walks_sql,
        random_walks,
        random_walks_sql,
    )

    e = spark.createDataFrame(N2V_WEDGES, "src long, dst long, w long")
    es = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b},{w})" for a, b, w in N2V_WEDGES)
        + ") t(src, dst, w)"
    )
    for weighted in (True, False):
        got = sorted(
            tuple(r)
            for r in random_walks(
                e if weighted else e.select("src", "dst"),
                walk_len=5,
                seed="rr",
                weight_col="w" if weighted else None,
            ).collect()
        )
        assert len(got) > 0
        for ctes in (
            random_walks_sql(es, walk_len=5, seed="rr", weighted=weighted),
            node2vec_walks_sql(
                es, walk_len=5, seed="rr",
                return_w=1, common_w=1, far_w=1, weighted=weighted,
            ),
        ):
            want = sorted(
                duckdb.sql(
                    "WITH " + ctes + " SELECT walk_id, step, node FROM walks"
                ).fetchall()
            )
            assert got == want, weighted


def test_lpa_weighted_votes_and_cross_engine(spark):
    """Weighted voting bites at round 1: a star where the heavy edge
    (w=10) outvotes the light edges AND the self-vote, while the
    unweighted tally would tie everything and fall to the min-label
    tiebreak — plus full DuckDB parity of the weighted rounds."""
    from etl_instagram_spark.operators.graph import (
        label_propagation,
        label_propagation_sql,
    )

    star = [(0, 1, 10), (0, 2, 1), (0, 3, 1)]
    e = spark.createDataFrame(star, "src long, dst long, w long")
    got1 = {
        r["id"]: r["label"]
        for r in label_propagation(e, n_rounds=1, weight_col="w").collect()
    }
    assert got1[0] == 1  # the heavy neighbor wins
    e0 = spark.createDataFrame([(a, b) for a, b, _ in star], "src long, dst long")
    un1 = {
        r["id"]: r["label"]
        for r in label_propagation(e0, n_rounds=1).collect()
    }
    assert un1[0] == 0  # all-tie falls to min label (the self label)

    wedges = [(1, 9, 10), (1, 2, 1), (1, 3, 1), (2, 3, 1), (9, 8, 10), (8, 9, 2)]
    ew = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = sorted(
        tuple(r)
        for r in label_propagation(ew, n_rounds=4, weight_col="w").collect()
    )
    es = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b},{w})" for a, b, w in wedges)
        + ") t(src, dst, w)"
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            "WITH "
            + label_propagation_sql(es, n_rounds=4, weighted=True)
            + " SELECT id, label FROM labels"
        ).fetchall()
    )
    assert got == want


def test_lpa_unit_weights_reduce_to_unweighted(spark):
    """w = 1 everywhere: the weighted vote sum IS the count, so the
    assignment is bit-identical to the unweighted path."""
    from etl_instagram_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10), (20, 21)]
    ew = spark.createDataFrame(
        [(a, b, 1) for a, b in edges], "src long, dst long, w long"
    )
    e0 = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(
        tuple(r)
        for r in label_propagation(ew, n_rounds=5, weight_col="w").collect()
    )
    b = sorted(tuple(r) for r in label_propagation(e0, n_rounds=5).collect())
    assert a == b


def test_lpa_weighted_validation(spark):
    from etl_instagram_spark.operators.graph import label_propagation

    bad_null = spark.createDataFrame(
        [(1, 2, 5), (2, 3, None)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="NULL"):
        label_propagation(bad_null, weight_col="w")
    bad_neg = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 0)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="positive"):
        label_propagation(bad_neg, weight_col="w")


@pytest.mark.parametrize("far_w", [1, 2])
def test_walk_pipeline_runs_at_default_parallelism(spark, far_w):
    """r19/r20 (VERDICT r19 #4 task-count pin): the walk frontier is
    round-robined over defaultParallelism before the step loop — without
    it AQE coalesced the tiny node-set exchange to ONE partition and the
    per-row O(cap²) in-array walk work ran single-task. The adjacency
    side broadcasts, so the spread survives every step: the job that
    materializes the walk corpus must run >= defaultParallelism tasks.
    far_w = 2 pins the same spread for the second-order (biased) walk."""
    from etl_instagram_spark.operators.graph import random_walks

    par = spark.sparkContext.defaultParallelism
    edges = spark.createDataFrame(
        [(i, (i * 7 + j) % 40) for i in range(40) for j in range(1, 4)],
        "src long, dst long",
    )
    store = spark.sparkContext._jsc.sc().statusStore()

    def _job_ids():
        jl = store.jobsList(None)
        return {jl.apply(i).jobId() for i in range(jl.size())}

    before = _job_ids()
    # the eager checkpoint runs here
    random_walks(edges, walk_len=3, seed="t", far_w=far_w)
    jl = store.jobsList(None)
    new_tasks = [
        jl.apply(i).numTasks()
        for i in range(jl.size())
        if jl.apply(i).jobId() not in before
    ]
    assert new_tasks and max(new_tasks) >= par, new_tasks
