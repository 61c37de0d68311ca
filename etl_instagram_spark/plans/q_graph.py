"""Graph/entity-family queries: int64-exact PageRank over the supplier graph and
blocking+levenshtein+CC entity resolution, each with its DuckDB oracle
(fixed-round MATERIALIZED CTE replays with loud convergence asserts)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.queries import _t, query
from etl_instagram_spark.plans.q_shared import (
    _sql_cc_rounds,
)


# ---------------------------------------------------------------------------
# graph centrality (operators/graph.py)
# ---------------------------------------------------------------------------


@query("graph_pagerank_suppliers")
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (operators/graph.py) over the
    customer↔supplier interaction graph: top-20 suppliers by stationary
    mass after 3 power iterations. Ranks are integer micro-units and
    every update is pure int64 arithmetic, so the result is
    partition-order-independent and the oracle — a fixed-iteration CTE
    chain doing the SAME integer math — replays every round INSIDE
    DuckDB and lands on bit-identical BIGINTs. Second certified
    iterative algorithm after emb_kmeans_cells, and the first whose
    oracle is one standalone SQL statement (no Python-side replay
    loop). Scale: the edge list shuffles once at setup (pinned layout);
    each iteration moves only the node-sized rank frame and the
    groupBy(dst) sum collapses map-side to ≤ |nodes| rows/partition."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        pagerank,
    )

    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ranks = pagerank(bipartite_order_edges(od, li), n_iter=3)
    return (
        ranks.filter(F.col("id") % 2 == 1)
        .select(F.expr("(id - 1) div 2").alias("s_suppkey"), "rank_micro")
        .orderBy(F.col("rank_micro").desc(), "s_suppkey")
        .limit(20)
    )


def _pagerank_oracle_sql() -> str:
    from etl_instagram_spark.operators.graph import (
        BIPARTITE_ORDER_EDGES_SQL,
        pagerank_oracle_sql,
    )

    return f"""
    WITH {pagerank_oracle_sql(BIPARTITE_ORDER_EDGES_SQL, n_iter=3)}
    SELECT (id - 1) // 2 AS s_suppkey, rank_micro
    FROM r3 WHERE id % 2 = 1
    ORDER BY rank_micro DESC, s_suppkey
    LIMIT 20
    """


oracle("graph_pagerank_suppliers", _pagerank_oracle_sql())


@query("part_entity_resolution")
def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names (operators/entity.py) — block
    on the name's last token, verify with levenshtein ≤ 3, cluster with
    connected components, emit the per-entity merge audit. The oracle
    replays blocking, the edit-distance
    verify (levenshtein is a built-in with identical integer semantics
    in both engines), AND the convergence-asserted CC rounds in one
    DuckDB statement."""
    from etl_instagram_spark.operators.entity import canonical_entities

    pa = _t(spark, sf_dir, "part")
    # composite (last token, brand) block: the block key IS the scale
    # lever (candidate_pairs docstring) — last-token alone leaves ~2k-row
    # blocks at sf0.1 (~2·10^8 levenshtein pairs); the brand facet cuts
    # pair volume ~25× while still exercising cross-block non-matches
    # concat, not concat_ws: a NULL brand must propagate to a NULL
    # block (row leaves resolution) exactly like the oracle's ``||``
    # (the sampling._bucket convention)
    block = F.concat(
        F.element_at(F.split(F.trim(F.lower(F.col("p_name"))), " "), -1),
        F.lit("\x1f"),
        F.col("p_brand"),
    )
    return canonical_entities(pa, "p_partkey", "p_name", block, max_dist=3)


def _sql_part_entity_resolution() -> str:
    return f"""
    WITH n AS (SELECT p_partkey AS id, trim(lower(p_name)) AS norm,
                      p_brand FROM part),
    b AS (SELECT id, norm,
                 string_split(norm, ' ')[-1] || chr(31) || p_brand AS blk
          FROM n WHERE norm IS NOT NULL AND p_brand IS NOT NULL),
    verified AS (SELECT a.id AS ia, b2.id AS ib
                 FROM b a JOIN b b2
                   ON a.blk = b2.blk AND a.id < b2.id
                 WHERE levenshtein(a.norm, b2.norm) <= 3),
    {_sql_cc_rounds(16)},
    named AS (SELECT l.id, l.component AS entity, n.norm
              FROM lcc l JOIN n ON n.id = l.id),
    agg AS (SELECT entity, count(*) AS n_members,
                   count(DISTINCT norm) AS n_name_variants
            FROM named GROUP BY entity)
    SELECT a.entity, a.n_members, a.n_name_variants,
           c.norm AS canonical_name
    FROM agg a JOIN n c ON c.id = a.entity
    ORDER BY a.n_members DESC, a.entity
    """


oracle("part_entity_resolution", _sql_part_entity_resolution())


# ---------------------------------------------------------------------------
# graph representation learning (operators/graph_embed.py)
# ---------------------------------------------------------------------------


# one quarter of order activity: the gate certifies the operator chain,
# not the full-graph corpus (the part_entity_resolution composite-block
# precedent — bound the work, keep every operator live); the full
# customer↔supplier graph stays chain-tested in tests/test_graph_embed.py
_WALK_EDGES_97Q1 = (
    "o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"
    " AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'"
)

_WALK_EDGES_97Q1_SQL = f"""
    SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE {_WALK_EDGES_97Q1}
    UNION
    SELECT 2 * l_suppkey + 1 AS src, 2 * o_custkey AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE {_WALK_EDGES_97Q1}
"""


@query("graph_walk_embeddings")
def graph_walk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full graph-representation chain, driver-certified:
    deterministic walks over the
    1997Q1 customer↔supplier interaction graph → skip-gram
    co-occurrence (window 2) → PPMI → ±1 random-projection embeddings
    (dim 8, L2-normalized) — walks + co-occurrence + PPMI + projection
    certified in ONE cross-engine statement. Every count is int64, the
    one ln boundary is quantized at 10^-6 (the BM25 discipline), and
    everything after is exact, so the 50 highest-magnitude nodes'
    embedding VECTORS (every float) replay bit-for-bit in DuckDB.

    Output shape: the vectors are posexploded into SCALAR rows
    (node, norm, d, value) — 50 nodes × 8 dims = 400 rows — because
    the driver's pandas canonicalization cannot hash array-typed
    columns (the sole red row of CORRECTNESS_r16; fixed r17). Same
    floats certified, one row per dimension.

    Scale: the date filter pushes into the orders scan; the walk
    frontier is O(nodes) per step against a pinned adjacency table; the
    co-occurrence pairs generate in-array (one groupBy(walk_id), never
    a self-join); PPMI is two marginal aggs + one 1-row broadcast; the
    projection is one (node, d) hash agg. See operators/graph_embed.py
    for the 100 TB notes."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        random_walks,
    )
    from etl_instagram_spark.operators.graph_embed import (
        ppmi_scores,
        walk_cooccurrence,
        walk_embeddings,
    )

    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    walks = random_walks(bipartite_order_edges(od, li), walk_len=4, seed="gw")
    emb = walk_embeddings(
        ppmi_scores(walk_cooccurrence(walks, window=2)), dim=8, seed="emb"
    )
    top = emb.orderBy(F.desc("norm"), "node").limit(50)
    return top.select(
        "node", "norm", F.posexplode("emb").alias("d", "value")
    )


def _sql_graph_walk_embeddings() -> str:
    from etl_instagram_spark.operators.graph import random_walks_sql
    from etl_instagram_spark.operators.graph_embed import (
        ppmi_sql,
        walk_cooccurrence_sql,
        walk_embeddings_sql,
    )

    ctes = ", ".join(
        [
            random_walks_sql(_WALK_EDGES_97Q1_SQL, walk_len=4, seed="gw"),
            walk_cooccurrence_sql(window=2),
            ppmi_sql(),
            walk_embeddings_sql(dim=8, seed="emb"),
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


oracle("graph_walk_embeddings", _sql_graph_walk_embeddings())


# ---------------------------------------------------------------------------
# second-order (node2vec) representation learning
# ---------------------------------------------------------------------------


@query("graph_node2vec_embeddings_97q1")
def graph_node2vec_embeddings_97q1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BOUNDED node2vec embedding chain, driver-certified:
    second-order biased walks
    (Grover & Leskovec KDD'16; α ratio 1:1:2, hub cap 32) over the
    1997Q1 customer↔supplier subgraph → skip-gram co-occurrence
    (window 2) → PPMI → ±1 random-projection embeddings (dim 8,
    L2-normalized). Same bounding precedent as graph_walk_embeddings:
    the gate certifies the operator chain, not the full-graph corpus —
    the FULL-graph chain (graph_node2vec_embeddings) and the walk
    corpus itself (graph_node2vec_walks) are non-gate rows in
    plans/extras_graph.py. Every count is int64 and the one ln boundary is
    quantized at 10^-6, so the top-50 nodes' embedding floats replay
    bit-for-bit in one DuckDB statement.

    Output shape: posexploded SCALAR rows (node, norm, d, value) —
    50 nodes × 8 dims = 400 rows (the r17 gate-output discipline).

    Scale: the date filter pushes into the orders scan; the biased
    frontier is O(nodes) per step against a pinned adjacency table and
    accumulates the walk path in-row (one pipelined DAG, a single
    materialization barrier — operators/graph.py r18); the
    co-occurrence pairs generate in-array; PPMI is two marginal aggs +
    one 1-row broadcast; the projection is one (node, d) hash agg."""
    from etl_instagram_spark.operators.graph import (
        bipartite_order_edges,
        random_walks,
    )
    from etl_instagram_spark.operators.graph_embed import (
        ppmi_scores,
        walk_cooccurrence,
        walk_embeddings,
    )

    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    walks = random_walks(
        bipartite_order_edges(od, li),
        walk_len=4,
        seed="n2q",
        far_w=2,
        max_degree=32,
    )
    emb = walk_embeddings(
        ppmi_scores(walk_cooccurrence(walks, window=2)), dim=8, seed="n2qemb"
    )
    top = emb.orderBy(F.desc("norm"), "node").limit(50)
    return top.select(
        "node", "norm", F.posexplode("emb").alias("d", "value")
    )


def _sql_graph_node2vec_embeddings_97q1() -> str:
    from etl_instagram_spark.operators.graph import node2vec_walks_sql
    from etl_instagram_spark.operators.graph_embed import (
        ppmi_sql,
        walk_cooccurrence_sql,
        walk_embeddings_sql,
    )

    ctes = ", ".join(
        [
            node2vec_walks_sql(
                _WALK_EDGES_97Q1_SQL,
                walk_len=4,
                seed="n2q",
                far_w=2,
                max_degree=32,
            ),
            walk_cooccurrence_sql(window=2),
            ppmi_sql(),
            walk_embeddings_sql(dim=8, seed="n2qemb"),
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


oracle("graph_node2vec_embeddings_97q1", _sql_graph_node2vec_embeddings_97q1())
