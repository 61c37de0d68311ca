"""Graph/entity non-gate rows, each registered with ``@query(name,
gate=False)`` beside its body and paired with an ``oracle(name, sql)``
mirror (checked by tests/test_rotated_parity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.queries import _t, query


@query("graph_ppr_building_suppliers", gate=False)
def _graph_ppr_building_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank — teleport mass confined
    to BUILDING-segment customers, ranking suppliers as seen from that
    segment (the seeded-importance shape: rank a neighborhood from a
    trusted subset). Same int64 kernel as the gate row
    graph_pagerank_suppliers; the mirror replays seeds, init, and every
    iteration in one standalone DuckDB statement."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        pagerank,
    )

    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cu = _t(spark, sf_dir, "customer")
    seeds = cu.filter(F.col("c_mktsegment") == "BUILDING").select(
        (F.col("c_custkey") * 2).alias("id")
    )
    ranks = pagerank(bipartite_order_edges(od, li), n_iter=3, seeds=seeds)
    return (
        ranks.filter(F.col("id") % 2 == 1)
        .select(F.expr("(id - 1) div 2").alias("s_suppkey"), "rank_micro")
        .orderBy(F.col("rank_micro").desc(), "s_suppkey")
        .limit(15)
    )


def _sql_ppr_building_suppliers() -> str:
    from etl_instagram_spark.operators.graph import (
        BIPARTITE_ORDER_EDGES_SQL,
        pagerank_oracle_sql,
    )

    ctes = pagerank_oracle_sql(
        BIPARTITE_ORDER_EDGES_SQL,
        n_iter=3,
        seeds_sql=(
            "SELECT 2 * c_custkey FROM customer"
            " WHERE c_mktsegment = 'BUILDING'"
        ),
    )
    return f"""
    WITH {ctes}
    SELECT (id - 1) // 2 AS s_suppkey, rank_micro
    FROM r3 WHERE id % 2 = 1
    ORDER BY rank_micro DESC, s_suppkey
    LIMIT 15
    """


oracle("graph_ppr_building_suppliers", _sql_ppr_building_suppliers())


@query("graph_pagerank_weighted", gate=False)
def _graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank — the walk follows edges in
    proportion to order-line counts (interaction intensity), so heavy
    trading pairs pull rank. Same int64 kernel; per-edge contrib
    (rank·w) div W(u) replayed whole in DuckDB."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        pagerank,
    )

    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ranks = pagerank(
        bipartite_order_edges(od, li, weighted=True), n_iter=3, weight_col="w"
    )
    return (
        ranks.filter(F.col("id") % 2 == 1)
        .select(F.expr("(id - 1) div 2").alias("s_suppkey"), "rank_micro")
        .orderBy(F.col("rank_micro").desc(), "s_suppkey")
        .limit(15)
    )


def _sql_pagerank_weighted() -> str:
    from etl_instagram_spark.operators.graph import (
        BIPARTITE_ORDER_EDGES_WEIGHTED_SQL,
        pagerank_oracle_sql,
    )

    ctes = pagerank_oracle_sql(
        BIPARTITE_ORDER_EDGES_WEIGHTED_SQL, n_iter=3, weighted=True
    )
    return f"""
    WITH {ctes}
    SELECT (id - 1) // 2 AS s_suppkey, rank_micro
    FROM r3 WHERE id % 2 = 1
    ORDER BY rank_micro DESC, s_suppkey
    LIMIT 15
    """


oracle("graph_pagerank_weighted", _sql_pagerank_weighted())


@query("graph_pagerank_dangling", gate=False)
def _graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redistribute-dangling PageRank over the
    DIRECTED customer→supplier order graph — every supplier is a
    dangling sink, so this row exercises the standard-formulation
    per-round dangling-mass redistribution end to end (int64 share =
    D div N, replayed as a scalar-subquery CTE per round in DuckDB).
    Ranks customers by how much supplier-bounced mass flows back to
    them via the uniform share."""
    from etl_instagram_spark.operators.graph import pagerank

    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = od.join(li, od.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    ranks = pagerank(edges, n_iter=3, redistribute_dangling=True)
    return (
        ranks.filter(F.col("id") % 2 == 0)
        .select(F.expr("id div 2").alias("c_custkey"), "rank_micro")
        .orderBy(F.col("rank_micro").desc(), "c_custkey")
        .limit(15)
    )


def _sql_graph_pagerank_dangling() -> str:
    from etl_instagram_spark.operators.graph import pagerank_oracle_sql

    ctes = pagerank_oracle_sql(
        "SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey",
        n_iter=3,
        redistribute_dangling=True,
    )
    return f"""
    WITH {ctes}
    SELECT id // 2 AS c_custkey, rank_micro
    FROM r3 WHERE id % 2 = 0
    ORDER BY rank_micro DESC, c_custkey
    LIMIT 15
    """


oracle("graph_pagerank_dangling", _sql_graph_pagerank_dangling())


@query("part_entity_snm", gate=False)
def _part_entity_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD entity blocking
    (operators/entity.sorted_neighborhood_pairs) — pair volume exactly
    n·(window−1) by construction, the hot-block-proof alternative to
    key blocking. The oracle replays the GLOBAL rank (bucket-offset on
    the Spark side, plain row_number in DuckDB), the rank-shifted
    window pairing, and the levenshtein verify, certified by
    order-independent checksums over the full verified pair set (the
    events_ewma convention — every pair contributes, no row emission).
    CC clustering over SNM pairs is deliberately NOT replayed here:
    sorted-name chains form deep graphs beyond any fixed CTE round
    budget (the lcc convergence assert fires, loudly, as designed);
    the engine side uses the O(log n) alternating-star CC, and the CC
    kernel itself is gate-certified via part_entity_resolution /
    docs_dup_cluster_reps."""
    from etl_instagram_spark.operators.entity import (
        sorted_neighborhood_pairs,
    )

    pa = _t(spark, sf_dir, "part")
    pairs = sorted_neighborhood_pairs(
        pa, "p_partkey", "p_name", window=4, max_dist=3
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("id_a").alias("a_checksum"),
        F.sum("id_b").alias("b_checksum"),
        F.countDistinct("id_a").alias("n_distinct_a"),
        F.countDistinct("id_b").alias("n_distinct_b"),
    )


def _sql_part_entity_snm() -> str:
    from etl_instagram_spark.operators.entity import sorted_neighborhood_sql

    snm = sorted_neighborhood_sql(
        "SELECT p_partkey, p_name FROM part", window=4, max_dist=3
    )
    return f"""
    WITH {snm}
    SELECT count(*) AS n_pairs,
           (sum(ia))::BIGINT AS a_checksum,
           (sum(ib))::BIGINT AS b_checksum,
           count(DISTINCT ia) AS n_distinct_a,
           count(DISTINCT ib) AS n_distinct_b
    FROM verified
    """


oracle("part_entity_snm", _sql_part_entity_snm())


@query("part_k_core", gate=False)
def _part_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (operators/graph.k_core)
    — the dense co-purchase backbone after synchronously peeling
    sub-k-degree nodes to a fixpoint. The oracle replays the same peel
    as fixed-round MATERIALIZED CTEs with a LOUD convergence assert
    (too-shallow budgets error out, never silently certify a
    half-peeled graph)."""
    from etl_instagram_spark.operators.graph import copurchase_edges, k_core

    li = _t(spark, sf_dir, "lineitem")
    core = k_core(copurchase_edges(li, min_orders=2), k=3)
    return core.orderBy(F.col("core_degree").desc(), "id").limit(50)


def _sql_part_k_core() -> str:
    from etl_instagram_spark.operators.graph import (
        COPURCHASE_EDGES_SQL,
        k_core_sql,
    )

    # budget 24 >= 2x the measured sf0.01 peel depth of 10 (pinned by
    # tests/test_graph.py::test_k_core_peel_depth_within_half_the_oracle_budget
    # — the CC oracle's margin discipline); converged rounds are no-ops
    ctes = k_core_sql(COPURCHASE_EDGES_SQL.format(min_orders=2), k=3, rounds=24)
    return f"""
    WITH {ctes}
    SELECT id, count(*) AS core_degree
    FROM (SELECT lo AS id FROM core UNION ALL SELECT hi FROM core)
    GROUP BY id
    ORDER BY core_degree DESC, id
    LIMIT 50
    """


oracle("part_k_core", _sql_part_k_core())


@query("graph_random_walks", gate=False)
def _graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style random walks
    over the customer↔supplier graph — 4 steps from every node, next
    hop = hash32(seed, walk, step) mod outdeg over sorted neighbors, so
    the walk corpus is a pure function of (graph, seed). Per-step
    count / distinct-node / checksum profile replayed in DuckDB."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        random_walks,
    )

    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    walks = random_walks(bipartite_order_edges(od, li), walk_len=4)
    return (
        walks.groupBy("step")
        .agg(
            F.count(F.lit(1)).alias("n_visits"),
            F.countDistinct("node").alias("n_distinct_nodes"),
            F.sum("node").alias("node_checksum"),
        )
        .orderBy("step")
    )


def _sql_graph_random_walks() -> str:
    from etl_instagram_spark.operators.graph import (
        BIPARTITE_ORDER_EDGES_SQL,
        random_walks_sql,
    )

    ctes = random_walks_sql(BIPARTITE_ORDER_EDGES_SQL, walk_len=4)
    return f"""
    WITH {ctes}
    SELECT step, count(*) AS n_visits,
           count(DISTINCT node) AS n_distinct_nodes,
           (sum(node))::BIGINT AS node_checksum
    FROM walks GROUP BY step ORDER BY step
    """


oracle("graph_random_walks", _sql_graph_random_walks())


@query("graph_weighted_walks", gate=False)
def _graph_weighted_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED deterministic walks — the interval
    pick follows edges ∝ order-line count (P(v→u) = w/W(v)) over the
    customer↔supplier graph, with the max_degree hub cap engaged so
    the cap + cumulative-weight machinery certify together. Per-step
    visit/distinct/checksum profile replayed in DuckDB."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        random_walks,
    )

    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    walks = random_walks(
        bipartite_order_edges(od, li, weighted=True),
        walk_len=4,
        seed="ww",
        weight_col="w",
        max_degree=32,
    )
    return (
        walks.groupBy("step")
        .agg(
            F.count(F.lit(1)).alias("n_visits"),
            F.countDistinct("node").alias("n_distinct_nodes"),
            F.sum("node").alias("node_checksum"),
        )
        .orderBy("step")
    )


def _sql_graph_weighted_walks() -> str:
    from etl_instagram_spark.operators.graph import (
        BIPARTITE_ORDER_EDGES_WEIGHTED_SQL,
        random_walks_sql,
    )

    ctes = random_walks_sql(
        BIPARTITE_ORDER_EDGES_WEIGHTED_SQL,
        walk_len=4,
        seed="ww",
        weighted=True,
        max_degree=32,
    )
    return f"""
    WITH {ctes}
    SELECT step, count(*) AS n_visits,
           count(DISTINCT node) AS n_distinct_nodes,
           (sum(node))::BIGINT AS node_checksum
    FROM walks GROUP BY step ORDER BY step
    """


oracle("graph_weighted_walks", _sql_graph_weighted_walks())


@query("part_triangle_stats", gate=False)
def _part_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting / clustering coefficients
    over the part co-purchase projection (parts co-occurring on ≥ 3
    orders). Oriented-wedge algorithm — two key-equi joins, every
    triangle found once; the oracle replays projection, orientation,
    wedges, and closure in one statement."""
    from etl_instagram_spark.operators.graph import (
        copurchase_edges,
        triangle_counts,
    )

    li = _t(spark, sf_dir, "lineitem")
    stats = triangle_counts(copurchase_edges(li, min_orders=3))
    return stats.orderBy(F.col("n_triangles").desc(), "id").limit(50)


def _sql_part_triangle_stats() -> str:
    from etl_instagram_spark.operators.graph import (
        COPURCHASE_EDGES_SQL,
        triangle_counts_sql,
    )

    inner = triangle_counts_sql(COPURCHASE_EDGES_SQL.format(min_orders=3))
    return f"""
    SELECT * FROM ({inner})
    ORDER BY n_triangles DESC, id
    LIMIT 50
    """


oracle("part_triangle_stats", _sql_part_triangle_stats())


@query("part_communities_weighted", gate=False)
def _part_communities_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED label propagation — votes carry the
    co-purchase intensity (n_orders), so communities form around
    strongly-co-bought part clusters rather than mere adjacency. Same
    pinned (max vote, min label) argmax on exact int64 sums; same
    per-community size/checksum profile replayed in DuckDB."""
    from etl_instagram_spark.operators.graph import (
        copurchase_edges,
        label_propagation,
    )

    li = _t(spark, sf_dir, "lineitem")
    labels = label_propagation(
        copurchase_edges(li, min_orders=2, weights=True),
        n_rounds=4,
        weight_col="n_orders",
    )
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("id").alias("member_checksum"),
        )
        .orderBy(F.desc("n_members"), "label")
        .limit(50)
    )


def _sql_part_communities_weighted() -> str:
    from etl_instagram_spark.operators.graph import (
        COPURCHASE_EDGES_WEIGHTED_SQL,
        label_propagation_sql,
    )

    ctes = label_propagation_sql(
        COPURCHASE_EDGES_WEIGHTED_SQL.format(min_orders=2),
        n_rounds=4,
        weighted=True,
    )
    return f"""
    WITH {ctes}
    SELECT label, count(*)::BIGINT AS n_members,
           (sum(id))::BIGINT AS member_checksum
    FROM labels GROUP BY label
    ORDER BY n_members DESC, label
    LIMIT 50
    """


oracle("part_communities_weighted", _sql_part_communities_weighted())


@query("graph_node2vec_walks", gate=False)
def _graph_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND-ORDER biased walks (node2vec, Grover &
    Leskovec KDD'16) over the customer↔supplier graph at the homophily
    configuration (1, 1, 2) with the hub cap engaged — the distance-2
    membership bias + integer interval pick certify together. Per-step
    visit/distinct/checksum profile replayed in DuckDB (the
    graph_random_walks convention)."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        random_walks,
    )

    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    walks = random_walks(
        bipartite_order_edges(od, li),
        walk_len=4,
        seed="n2v",
        far_w=2,
        max_degree=32,
    )
    return (
        walks.groupBy("step")
        .agg(
            F.count(F.lit(1)).alias("n_visits"),
            F.countDistinct("node").alias("n_distinct_nodes"),
            F.sum("node").alias("node_checksum"),
        )
        .orderBy("step")
    )


def _sql_graph_node2vec_walks() -> str:
    from etl_instagram_spark.operators.graph import (
        BIPARTITE_ORDER_EDGES_SQL,
        node2vec_walks_sql,
    )

    ctes = node2vec_walks_sql(
        BIPARTITE_ORDER_EDGES_SQL,
        walk_len=4,
        seed="n2v",
        far_w=2,
        max_degree=32,
    )
    return f"""
    WITH {ctes}
    SELECT step, count(*) AS n_visits,
           count(DISTINCT node) AS n_distinct_nodes,
           (sum(node))::BIGINT AS node_checksum
    FROM walks GROUP BY step ORDER BY step
    """


oracle("graph_node2vec_walks", _sql_graph_node2vec_walks())


@query("part_communities", gate=False)
def _part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the
    co-purchase projection — the source/domain-clustering shape (group
    structurally-entangled sources, then apply mixture caps to the
    CLUSTER). Synchronous fixed-round LPA with the pinned (max votes,
    min label) argmax and the self-vote damping oscillation; every
    count is exact int64, so the per-community size/membership-checksum
    profile replays bit-for-bit in DuckDB."""
    from etl_instagram_spark.operators.graph import (
        copurchase_edges,
        label_propagation,
    )

    li = _t(spark, sf_dir, "lineitem")
    labels = label_propagation(copurchase_edges(li, min_orders=2), n_rounds=4)
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("id").alias("member_checksum"),
        )
        .orderBy(F.desc("n_members"), "label")
        .limit(50)
    )


def _sql_part_communities() -> str:
    from etl_instagram_spark.operators.graph import (
        COPURCHASE_EDGES_SQL,
        label_propagation_sql,
    )

    ctes = label_propagation_sql(
        COPURCHASE_EDGES_SQL.format(min_orders=2), n_rounds=4
    )
    return f"""
    WITH {ctes}
    SELECT label, count(*)::BIGINT AS n_members,
           (sum(id))::BIGINT AS member_checksum
    FROM labels GROUP BY label
    ORDER BY n_members DESC, label
    LIMIT 50
    """


oracle("part_communities", _sql_part_communities())


@query("graph_node2vec_embeddings", gate=False)
def _graph_node2vec_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The node2vec-FED embedding chain — the
    composition the graph_embed docstrings promise: second-order biased
    walks (homophily config (1, 1, 2), hub cap 32) emit the same
    (walk_id, step, node) schema first-order walks do, so the
    co-occurrence → PPMI → random-projection chain composes unchanged
    and the top-50 nodes' embedding VECTORS (every float) replay
    bit-for-bit in one DuckDB statement (the graph_walk_embeddings
    contract, now certified for the second-order corpus).

    r17: output posexploded into (node, norm, d, value) scalar rows —
    the same shape fix the gate row took (the driver's pandas
    canonicalization cannot hash array columns), applied here ahead of
    the r18 promotion runway so the registration move is mechanical."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        random_walks,
    )
    from etl_instagram_spark.operators.graph_embed import (
        ppmi_scores,
        walk_cooccurrence,
        walk_embeddings,
    )

    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    walks = random_walks(
        bipartite_order_edges(od, li),
        walk_len=4,
        seed="n2e",
        far_w=2,
        max_degree=32,
    )
    emb = walk_embeddings(
        ppmi_scores(walk_cooccurrence(walks, window=2)), dim=8, seed="n2emb"
    )
    top = emb.orderBy(F.desc("norm"), "node").limit(50)
    return top.select(
        "node", "norm", F.posexplode("emb").alias("d", "value")
    )


def _sql_graph_node2vec_embeddings() -> str:
    from etl_instagram_spark.operators.graph import (
        BIPARTITE_ORDER_EDGES_SQL,
        node2vec_walks_sql,
    )
    from etl_instagram_spark.operators.graph_embed import (
        ppmi_sql,
        walk_cooccurrence_sql,
        walk_embeddings_sql,
    )

    ctes = ", ".join(
        [
            node2vec_walks_sql(
                BIPARTITE_ORDER_EDGES_SQL,
                walk_len=4,
                seed="n2e",
                far_w=2,
                max_degree=32,
            ),
            walk_cooccurrence_sql(window=2),
            ppmi_sql(),
            walk_embeddings_sql(dim=8, seed="n2emb"),
        ]
    )
    return f"""
    WITH {ctes},
    gtop AS (SELECT node, norm, emb FROM embs
             ORDER BY norm DESC, node
             LIMIT 50)
    SELECT t.node, t.norm, dd.d, t.emb[dd.d + 1] AS value
    FROM gtop t CROSS JOIN (SELECT unnest(range(8)) AS d) dd
    """


oracle("graph_node2vec_embeddings", _sql_graph_node2vec_embeddings)
