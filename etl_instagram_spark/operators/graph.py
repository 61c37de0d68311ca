"""Distributed graph centrality over entity-relationship edges:
integer-quantized PageRank.

Why a graph operator in a data-curation engine: large-scale corpus
builds rank their sources by link/interaction centrality before
filtering (CommonCrawl publishes harmonic-centrality and PageRank-style
domain ranks; "quality by popularity" is a standard pre-filter signal
for web-scale pretraining corpora). The reference has no graph surface
(its only cross-entity structure is key-equality joins,
posts-from-hashtags.js) — this is an engine-native scale extension
(SURVEY §7), in the same family as the connected-components operators
in operators/dedup.py.

Spark-first design (the classic iterative-join kernel):

- the edge list is ``distinct``-ed, hash-partitioned on ``src`` ONCE and
  ``localCheckpoint``-pinned — every iteration's ``edges ⋈ ranks`` join
  reuses that layout, so only the (node-sized) rank frame shuffles per
  round; at 100 TB the edge list is the big side and moves zero times
  after setup,
- each iteration is one equi-join + one ``groupBy(dst).sum`` whose
  map-side partial aggregation collapses every partition to ≤ |nodes|
  rows before the shuffle — never an all-pairs or driver-side step,
- rank frames are ``localCheckpoint``-ed per round, truncating the
  exponentially deepening lineage (same discipline as
  dedup.dedup_components),
- the driver holds only scalar state (node count, round index) — rank
  vectors never leave the cluster.

Exactness across engines (the property the DuckDB oracle certifies):
ranks are kept in integer "micro-units" (``scale`` = 10^12 per unit of
probability mass) and every update is pure int64 arithmetic —

    contrib(u→v) = (rank_micro(u) · w(u,v)) div W(u)   [W = out-weight]
    rank'(v)     = (scale·(den−num)) div (N·den)
                   + (num · Σ_{u→v} contrib(u→v)) div den

(unweighted graphs run the same kernel at w = 1, where it reduces to
rank div outdeg per out-edge)

with damping num/den (default 17/20 = 0.85). Integer sums are
order-independent, so the result is bit-identical under ANY
partitioning, executor count, or engine — a fixed-iteration DuckDB CTE
chain (:func:`pagerank_oracle_sql`) replays every round and lands on
the same BIGINTs. (Float PageRank cannot make that promise: summation
order drifts in the 15th digit.) All values are non-negative, so
Spark's ``div`` (truncate) and DuckDB's ``//`` (floor) agree. Total
flow per round is ≤ scale ≈ 10^12 and the damping multiply tops out at
num·scale < 2·10^13 — far inside int64.

Dangling nodes (no out-edges) receive rank but emit none: their mass
exits the system instead of being redistributed (the "remove dangling
mass" simplification — documented, and replayed identically by the
oracle). Rank values are therefore comparable WITHIN a run, which is
what a ranking needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rank mass carried as integer micro-units: 10^12 per unit keeps six
# digits of headroom over a billion-node graph (scale // N ≥ 10^3 of
# resolution at N = 10^9) while num·scale stays far inside int64
PAGERANK_SCALE = 10**12

# damping 0.85 as an exact rational so both engines do the same
# integer multiply-then-divide instead of a float multiply
PAGERANK_DAMPING = (17, 20)


def _sum_weights(e: DataFrame) -> DataFrame:
    """(src, dst, w) rows → one row per (src, dst) with the summed
    weight and ``__nulls``, the count of NULL input weights, which
    :func:`_weight_bounds` rejects: sum/min/max skip NULLs, so a NULL
    weight's edge would otherwise silently contribute nothing."""
    return e.groupBy("src", "dst").agg(
        F.sum("w").alias("w"),
        F.sum(
            F.when(F.col("w").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("__nulls"),
    )


def _weight_bounds(
    e: DataFrame, who: str, weight_col: str, by: str | None = None
) -> tuple[int | None, int | None]:
    """The one weighted-edge check (walks, pagerank, label
    propagation): a bounded agg over the pinned :func:`_sum_weights`
    frame ``e`` that rejects NULL and non-positive weights. Returns
    (max weight, None); with ``by`` the same pass first groups by that
    key and returns (max weight, largest group's row count) — the
    walk's max out-degree at no extra pass. Both are None on an empty
    frame; each caller keeps its own int64 bound on top."""
    aggs = [
        F.min("w").alias("lo"),
        F.max("w").alias("hi"),
        F.sum("__nulls").alias("nulls"),
    ]
    if by is None:
        b = e.agg(*aggs).collect()[0]
    else:
        b = (
            e.groupBy(by)
            .agg(F.count(F.lit(1)).alias("n"), *aggs)
            .agg(
                F.max("n").alias("n"),
                F.min("lo").alias("lo"),
                F.max("hi").alias("hi"),
                F.sum("nulls").alias("nulls"),
            )
            .collect()[0]
        )
    if b["nulls"] is not None and b["nulls"] > 0:
        raise ValueError(
            f"{who}: {b['nulls']} edge row(s) have NULL {weight_col!r} — "
            "filter or fill them explicitly"
        )
    if b["lo"] is not None and b["lo"] <= 0:
        raise ValueError(
            f"{who}: weights must be positive ints, got min {b['lo']}"
        )
    return b["hi"], (b["n"] if by is not None else None)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    scale: int = PAGERANK_SCALE,
    damping: tuple[int, int] = PAGERANK_DAMPING,
    seeds: DataFrame | None = None,
    weight_col: str | None = None,
    redistribute_dangling: bool = False,
    hot_src_threshold: int | None = 1 << 17,
) -> DataFrame:
    """PageRank over a directed edge list — returns (id, rank_micro)
    with ``rank_micro`` the node's stationary-mass estimate after
    ``n_iter`` power iterations, in integer micro-units of ``scale``.

    ``edges`` rows are (src, dst) long ids; duplicates are collapsed
    (the walk is over the simple directed graph). Every id appearing as
    src or dst is ranked. See the module docstring for the exact
    integer update rule and the scale/partitioning design.

    ``seeds`` switches to PERSONALIZED PageRank (topic-sensitive,
    Haveliwala WWW'02): a one-column frame of node ids; the teleport
    mass (1−d) then flows only to the |S| seed nodes — init becomes
    scale // |S| on seeds / 0 elsewhere, and the per-round base term
    (scale·(den−num)) div (|S|·den) is added only to seeds. Ranks
    become "importance as seen from the seed set" — the curation use
    is ranking an entity neighborhood from a trusted/target subset
    (same role the DSIR target corpus plays for text). The integer
    arithmetic and its bit-exactness guarantees are unchanged; the
    seed frame is joined once at setup (O(|S|) rows).

    ``weight_col`` switches to WEIGHTED PageRank: the walk follows an
    edge with probability w/W(u) (W(u) = node out-weight), so
    contrib(u→v) = (rank·w) div W(u), evaluated per edge. Rows with
    the same (src, dst) sum their weights; weights must be positive
    ints with max_w ≤ 2^63/scale ≈ 9·10^6 (the rank·w product must fit
    int64 — validated at setup with one bounded agg; NULL weights are
    rejected there too, since a NULL would silently drop its edge's
    contribution from the inflow sum). ``weight_col=None`` (binary
    edges, w = 1 on the distinct edge set) computes exactly the
    unweighted update.

    ``redistribute_dangling=True`` switches to the STANDARD
    redistribute formulation: each round the dangling nodes' total
    rank D (one bounded agg, broadcast back as a 1-row frame) is
    shared uniformly over the teleport set before damping —
    rank'(v) = base(v) + (num·(inflow(v) + [v∈S]·(D div |S|))) div den
    — so total mass is conserved up to integer-floor dust and ranks
    are comparable ACROSS graphs, not just within a run. Still pure
    int64 (D ≤ scale, so inflow + D div |S| ≤ 2·scale ≪ 2^63/num);
    the oracle replays the per-round dangling sum as a scalar
    subquery. Default False keeps the documented exit-mass
    simplification (cheaper: no per-round dangling agg).

    ``hot_src_threshold`` is the power-law skew guard: any source whose
    out-edge count exceeds it has its adjacency SALTED into
    ceil(count/threshold) sub-partitions by a deterministic hash of
    ``dst``, and each iteration replicates that node's rank row once
    per salt (a broadcast explode on the node-sized frame) so the
    contrib join fans the hub's edges across k tasks instead of one.
    Per-edge contribs are unchanged and int64 sums are
    order-independent, so results stay bit-identical — the salt is
    partitioning metadata only, invisible to the oracle. When no source
    crosses the threshold (the common case) the plan is exactly the
    unsalted one. Detection cost: one partially-aggregated
    groupBy('src') count over the pinned edge frame (map-side combine,
    then a per-src shuffle of partial counts), materialized once — the
    probe reads the checkpointed hot frame. At 100 TB set it to roughly your target
    edges-per-partition; ``None`` disables the guard. The hot-source
    count is bounded by |E|/threshold by construction, so the hot map
    stays a legitimate broadcast."""
    num, den = damping
    if not (0 < num < den):
        raise ValueError(f"damping must satisfy 0 < num < den, got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if hot_src_threshold is not None and hot_src_threshold < 1:
        # 0 would divide __cnt to Infinity and saturate __k at 2^31-1 —
        # a catastrophic per-iteration explode instead of a loud error
        raise ValueError(
            f"hot_src_threshold must be >= 1 or None, got {hot_src_threshold}"
        )
    if weight_col is None:
        e = (
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
            )
            .distinct()
            .withColumn("w", F.lit(1).cast("long"))
        )
    else:
        e = _sum_weights(
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
                F.col(weight_col).cast("long").alias("w"),
            )
        )
    # pin the big side's layout once; every round's join reuses it
    e = e.repartition(F.col("src")).localCheckpoint(eager=True)
    if weight_col is not None:
        hi, _ = _weight_bounds(e, "pagerank", weight_col)
        if hi is not None and hi > (2**63 - 1) // scale:
            raise ValueError(
                f"pagerank: edge weights must be <= {(2**63 - 1) // scale} "
                f"(rank·w must fit int64), got max {hi}"
            )
        e = e.drop("__nulls")
    # power-law guard: find sources whose adjacency exceeds the salt
    # threshold (one map-side count over the pinned frame — the hot
    # frame has ≤ |E|/threshold rows, so it broadcasts). Only when a
    # hot source exists does the edge list get re-salted + re-pinned.
    hot = None
    if hot_src_threshold is not None:
        hot = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > hot_src_threshold)
            .select(
                "src",
                F.ceil(F.col("__cnt") / F.lit(hot_src_threshold))
                .cast("int")
                .alias("__k"),
            )
        )
        # checkpoint first, probe the checkpointed frame: the count
        # aggregation runs exactly once either way
        hot = hot.localCheckpoint(eager=True)
        if hot.limit(1).count() == 0:
            hot = None
        else:
            e = (
                e.join(F.broadcast(hot), "src", "left")
                .withColumn(
                    "__salt",
                    F.when(F.col("__k").isNull(), F.lit(0))
                    .otherwise(F.pmod(F.hash("dst"), F.col("__k")))
                    .cast("int"),
                )
                .drop("__k")
                .repartition(F.col("src"), F.col("__salt"))
                .localCheckpoint(eager=True)
            )
    deg = e.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(deg, "id", "left")  # outdeg NULL ⇔ dangling
    )
    if seeds is not None:
        seed_ids = seeds.select(
            F.col(seeds.columns[0]).cast("long").alias("id")
        ).distinct()
        nodes = nodes.join(
            seed_ids.withColumn("is_seed", F.lit(True)), "id", "left"
        ).withColumn("is_seed", F.coalesce("is_seed", F.lit(False)))
    else:
        nodes = nodes.withColumn("is_seed", F.lit(True))
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.filter("is_seed").count()  # teleport-set size
    if n == 0:
        raise ValueError(
            "pagerank: empty graph or no seed id appears in the edge list"
        )
    base = (scale * (den - num)) // (n * den)
    init, base_col = F.lit(scale // n), F.lit(base)
    zero = F.lit(0).cast("long")
    ranks = nodes.select(
        "id",
        "outdeg",
        F.when(F.col("is_seed"), init).otherwise(zero)
        .cast("long")
        .alias("rank_micro"),
    )
    for it in range(n_iter):
        rk = ranks.filter(F.col("outdeg").isNotNull()).select(
            "id", "outdeg", "rank_micro"
        )
        if hot is None:
            joined_edges = e.join(rk, e.src == rk.id)
        else:
            # replicate each hot source's rank row once per salt so the
            # (src, salt) join fans its adjacency across k tasks; cold
            # sources keep a single salt-0 row (sequence(0, 0))
            rk = (
                rk.join(
                    F.broadcast(
                        hot.select(F.col("src").alias("id"), "__k")
                    ),
                    "id",
                    "left",
                )
                .withColumn(
                    "__rs",
                    F.explode(
                        F.sequence(
                            F.lit(0), F.coalesce(F.col("__k"), F.lit(1)) - 1
                        )
                    ),
                )
                .drop("__k")
            )
            joined_edges = e.join(
                rk, (e.src == rk.id) & (e["__salt"] == rk["__rs"])
            )
        inflow = (
            joined_edges
            .select(
                F.col("dst").alias("id"),
                F.expr("(rank_micro * w) div outdeg").alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("inflow"))
        )
        joined = nodes.join(inflow, "id", "left")
        if redistribute_dangling:
            # one bounded agg → 1-row broadcast; every node's update adds
            # its uniform share of the danglers' round-(it) mass. Lazy
            # cross-join keeps this inside the round's single job.
            dang = ranks.filter(F.col("outdeg").isNull()).agg(
                F.coalesce(F.sum("rank_micro"), F.lit(0))
                .cast("long")
                .alias("__dang")
            )
            joined = joined.crossJoin(F.broadcast(dang))
            gain = F.expr(
                f"({num} * (coalesce(inflow, cast(0 as bigint))"
                f" + (case when is_seed then __dang div {n}"
                f" else cast(0 as bigint) end))) div {den}"
            )
        else:
            gain = F.expr(
                f"({num} * coalesce(inflow, cast(0 as bigint))) div {den}"
            )
        ranks = joined.select(
            "id",
            "outdeg",
            (F.when(F.col("is_seed"), base_col).otherwise(zero) + gain)
            .cast("long")
            .alias("rank_micro"),
        )
        # lineage truncation between rounds; the LAST round's frame is
        # consumed exactly once by the caller, so materializing it here
        # would just add a full extra pass
        if it < n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("id", "rank_micro")


def pagerank_oracle_sql(
    edges_sql: str,
    n_iter: int = 3,
    scale: int = PAGERANK_SCALE,
    damping: tuple[int, int] = PAGERANK_DAMPING,
    seeds_sql: str | None = None,
    weighted: bool = False,
    redistribute_dangling: bool = False,
) -> str:
    """WITH-clause body replaying :func:`pagerank` in pure SQL — one CTE
    per iteration, every update the identical int64 arithmetic, so a
    DuckDB oracle (or any ANSI engine with ``//`` floor division)
    reproduces the Spark BIGINTs exactly. ``edges_sql`` is a SELECT
    producing (src, dst) — or (src, dst, w) with ``weighted=True``;
    ``seeds_sql`` (optional, one id column) mirrors the personalized
    teleport set; the final CTE is ``r{n_iter}`` with columns (id,
    outdeg, rank_micro). Oracles interpolate THIS text so the two
    sides cannot drift (the hash32_sql convention)."""
    num, den = damping
    # MATERIALIZED throughout: DuckDB inlines plain CTEs, and each
    # round references the edge/node/previous-rank CTEs more than once —
    # inlining would re-expand the whole chain per round (exponential
    # plans past a handful of iterations); materialization keeps the
    # replay linear in n_iter, mirroring the Spark side's per-round
    # localCheckpoint
    if seeds_sql is None:
        is_seed = "TRUE AS is_seed"
        seed_join = ""
    else:
        is_seed = "(s.id IS NOT NULL) AS is_seed"
        seed_join = (
            " LEFT JOIN (SELECT DISTINCT id::BIGINT AS id"
            f" FROM ({seeds_sql}) sq(id)) s ON s.id = n.id"
        )
    if weighted:
        e_cte = (
            "e AS MATERIALIZED (SELECT src::BIGINT AS src,"
            " dst::BIGINT AS dst, (sum(w))::BIGINT AS w"
            " FROM eraw GROUP BY 1, 2)"
        )
    else:
        e_cte = (
            "e AS MATERIALIZED (SELECT src, dst, 1::BIGINT AS w FROM"
            " (SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst"
            "  FROM eraw) d)"
        )
    parts = [
        f"eraw AS ({edges_sql})",
        e_cte,
        "deg AS (SELECT src AS id, (sum(w))::BIGINT AS outdeg"
        " FROM e GROUP BY src)",
        "nodes AS MATERIALIZED (SELECT n.id, d.outdeg, " + is_seed + " FROM"
        " (SELECT src AS id FROM e UNION SELECT dst FROM e) n"
        " LEFT JOIN deg d ON n.id = d.id" + seed_join + ")",
        "nseed AS (SELECT count(*) AS n FROM nodes WHERE is_seed)",
        f"r0 AS MATERIALIZED (SELECT id, outdeg, is_seed,"
        f" (CASE WHEN is_seed THEN {scale} // (SELECT n FROM nseed)"
        f"  ELSE 0 END)::BIGINT AS rank_micro"
        f" FROM nodes)",
    ]
    base = (
        f"(CASE WHEN nodes.is_seed THEN"
        f" (SELECT ({scale} * {den - num}) // (n * {den}) FROM nseed)"
        f" ELSE 0 END)"
    )
    for i in range(1, n_iter + 1):
        if redistribute_dangling:
            parts.append(
                f"d{i} AS (SELECT (COALESCE(sum(rank_micro), 0))::BIGINT"
                f" AS dang FROM r{i - 1} WHERE outdeg IS NULL)"
            )
            gain = (
                f"({num} * (COALESCE(f.inflow, 0)"
                f" + CASE WHEN nodes.is_seed THEN"
                f" (SELECT dang FROM d{i}) // (SELECT n FROM nseed)"
                f" ELSE 0 END)) // {den}"
            )
        else:
            gain = f"({num} * COALESCE(f.inflow, 0)) // {den}"
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT nodes.id, nodes.outdeg,"
            f" nodes.is_seed,"
            f" ({base} + {gain})::BIGINT"
            f" AS rank_micro"
            f" FROM nodes LEFT JOIN"
            f" (SELECT e.dst,"
            f"  (sum((r.rank_micro * e.w) // r.outdeg))::BIGINT AS inflow"
            f"  FROM e JOIN r{i - 1} r ON e.src = r.id"
            f"  GROUP BY e.dst) f ON f.dst = nodes.id)"
        )
    return ",\n".join(parts)


def bipartite_order_edges(
    orders: DataFrame, lineitem: DataFrame, weighted: bool = False
) -> DataFrame:
    """The customer↔supplier interaction graph: one undirected edge
    (emitted in both directions) per distinct customer-supplier pairing
    observed on any order line. Node ids are disjoint by parity —
    customer c ↦ 2c, supplier s ↦ 2s+1 — so one BIGINT id space carries
    both entity types (the oracle replays the same encoding).
    ``weighted=True`` adds ``w`` = the pair's order-line count (the
    interaction intensity, for :func:`pagerank`'s ``weight_col``).

    Scale: the orders⋈lineitem join is the key-equi shuffle the fact
    tables already share; distinct/groupBy collapses to ≤ |customers|·
    avg distinct suppliers rows with map-side partial aggregation."""
    pairs = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).select(
        (F.col("o_custkey") * 2).alias("cust"),
        (F.col("l_suppkey") * 2 + 1).alias("supp"),
    )
    # both directions via ONE explode instead of a union of two selects
    # over the same lineage (r19): a union's branches are separate plan
    # subtrees, so the orders⋈lineitem join and the distinct/groupBy ran
    # TWICE per action; the explode emits the identical row multiset
    # (ids are parity-disjoint, so a reversed edge can never collide
    # with a forward one) from a single evaluation
    if weighted:
        ol = pairs.groupBy("cust", "supp").agg(
            F.count(F.lit(1)).alias("w")
        )
        return ol.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("cust").alias("src"),
                        F.col("supp").alias("dst"),
                        F.col("w"),
                    ),
                    F.struct(
                        F.col("supp").alias("src"),
                        F.col("cust").alias("dst"),
                        F.col("w"),
                    ),
                )
            ).alias("__e")
        ).select("__e.src", "__e.dst", "__e.w")
    ol = pairs.distinct()
    return ol.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("cust").alias("src"), F.col("supp").alias("dst")
                ),
                F.struct(
                    F.col("supp").alias("src"), F.col("cust").alias("dst")
                ),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")


BIPARTITE_ORDER_EDGES_SQL = """
    SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    UNION
    SELECT 2 * l_suppkey + 1 AS src, 2 * o_custkey AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
"""

def copurchase_edges(
    lineitem: DataFrame, min_orders: int = 1, weights: bool = False
) -> DataFrame:
    """Item co-occurrence projection: an undirected edge (a < b) between
    two parts appearing on the SAME order, kept when they co-occur on at
    least ``min_orders`` distinct orders. The classic bipartite→unimodal
    projection (co-purchase / co-citation graphs); per-order pair count
    is bounded by line-count², so edge volume is Σ_orders |lines|² —
    bounded by the order-size cap, not the table size.

    ``weights=True`` keeps the co-occurrence count as ``n_orders`` —
    the natural edge intensity for weighted PageRank / weighted walks
    over the projection (the graph-family composition chain).

    One self-join on the order key + one counting groupBy; both key-equi."""
    a = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    ).distinct()
    b = a.select(F.col("ok"), F.col("pa").alias("pb"))
    out = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
    )
    return out if weights else out.select("src", "dst")


COPURCHASE_EDGES_SQL = """
    SELECT pa AS src, pb AS dst
    FROM (SELECT a.pa, b.pb, count(*) AS n_orders
          FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pa FROM lineitem) a
          JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pb FROM lineitem) b
            ON a.ok = b.ok AND a.pa < b.pb
          GROUP BY a.pa, b.pb)
    WHERE n_orders >= {min_orders}
"""

# the weights=True face: (src, dst, w) with w = co-occurrence order count
COPURCHASE_EDGES_WEIGHTED_SQL = """
    SELECT pa AS src, pb AS dst, n_orders AS w
    FROM (SELECT a.pa, b.pb, count(*) AS n_orders
          FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pa FROM lineitem) a
          JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pb FROM lineitem) b
            ON a.ok = b.ok AND a.pa < b.pb
          GROUP BY a.pa, b.pb)
    WHERE n_orders >= {min_orders}
"""


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation over an undirected edge list:
    (id, n_triangles, degree, clustering_coeff) with clustering_coeff =
    2·T / (d·(d−1)) rounded to 6dp (NULL when d < 2).

    DEGREE-ORDERED orientation (the compact-forward / node-iterator++
    algorithm, Schank & Wagner WEA'05; Suri & Vassilvitskii WWW'11 for
    the MapReduce framing): every canonical edge is oriented from the
    endpoint that is SMALLER under the total order ≺ = (degree, id) to
    the larger, wedges are built at the ≺-smallest corner by ONE
    self-join on that corner, and each wedge (a→b, a→c with b ≺ c) is
    closed by probing the oriented edge set for (b→c). Two key-equi
    joins total, never an all-pairs step — and because out-degrees
    under this orientation are O(√m) amortized, wedge volume is
    O(m^1.5) on ANY graph, including power-law graphs where the naive
    id-ordered middle join pays Σ d(v)² on hub middles. A hub of degree
    d contributes d² wedges under id-orientation but only min(d, √m)²
    here: the hub is almost always the ≺-LARGEST corner, so no wedge is
    built at it. Every triangle (a ≺ b ≺ c) is found exactly once and
    credited to all three corners; results are identical to any exact
    algorithm (triangle counts are graph invariants), and the DuckDB
    mirror :func:`triangle_counts_sql` replays the same orientation."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("lo"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    # degree over the simple graph; reused by the orientation joins and
    # the final per-node stats, so pin it once
    deg = (
        e.select(F.col("lo").alias("id"))
        .union(e.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=True)
    )
    # orient lo↔hi by (degree, id); lo < hi always, so degree ties keep lo→hi
    fwd = F.col("dlo") <= F.col("dhi")
    oriented = (
        e.join(deg.select(F.col("id").alias("lo"), F.col("degree").alias("dlo")), "lo")
        .join(deg.select(F.col("id").alias("hi"), F.col("degree").alias("dhi")), "hi")
        .select(
            F.when(fwd, F.col("lo")).otherwise(F.col("hi")).alias("src"),
            F.when(fwd, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
            # dst's ≺-rank rides along so the wedge self-join can order
            # its two spokes without re-joining degrees
            F.when(fwd, F.col("dhi")).otherwise(F.col("dlo")).alias("ddst"),
        )
        .localCheckpoint(eager=True)
    )
    # wedges at the ≺-smallest corner a, spokes ordered b ≺ c; closed by
    # the oriented edge (b→c) — b ≺ c guarantees that is its stored form
    x = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("ddst").alias("db")
    )
    y = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("ddst").alias("dc")
    )
    tri = (
        x.join(y, "a")
        .filter(
            (F.col("db") < F.col("dc"))
            | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
        )
        .join(
            oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
            ["b", "c"],
        )
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(per_node, "id", "left").select(
        "id",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        "degree",
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.coalesce("n_triangles", F.lit(0))
                * 2.0
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        ).alias("clustering_coeff"),
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    seed: str = "walk",
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    weight_col: str | None = None,
    checkpoint_every: int = 8,
    return_w: int = 1,
    common_w: int = 1,
    far_w: int = 1,
) -> DataFrame:
    """Deterministic random walks — one walk started at EVERY node,
    ``walk_len`` steps: the corpus-generation shape under DeepWalk
    (Perozzi KDD'14) and node2vec (Grover & Leskovec KDD'16), whose walk
    sequences are the "sentences" a skip-gram embedding trains on.

    Spark-first and REPLAYABLE-BY-CONSTRUCTION: there is no RNG state —
    step i from node v draws ``pick = hash32(seed ⊕ walk_id ⊕ i)`` and
    indexes v's SORTED neighbor array with it, so every step is a pure
    function of (graph, seed), identical under any partitioning,
    re-run, or engine (the functions/text.hash32 md5 kernel; DuckDB
    mirrors :func:`random_walks_sql` and :func:`node2vec_walks_sql`). A
    walk that reaches a dangling node (no out-edges) stops there —
    shorter walks are emitted, not padded.

    Output: (walk_id, step, node) with step 0 = the start node and
    walk_id = the start node id.

    FIRST-ORDER walks (the default α = (1, 1, 1): DeepWalk, i.e.
    node2vec at p = q = 1) follow ``nbrs[pick mod outdeg(v)]``.
    ``weight_col`` switches to WEIGHTED walks: r = pick mod W(v) picks
    the neighbor whose cumulative-weight interval contains r, so
    P(v→u) = w(v,u)/W(v). Duplicate (src, dst) rows sum their weights;
    weights must be positive ints (one bounded agg, NULLs rejected).
    The adjacency row carries the dst-ordered prefix sums, built once
    with an O(k²) in-array aggregate; w = 1 everywhere reduces to the
    unweighted formula bit-for-bit.

    SECOND-ORDER biased walks (node2vec): from step 2 on, with previous
    node ``prev``, each neighbor x of the current node weighs

        return_w  if x == prev            (node2vec α = 1/p)
        common_w  if x ∈ out-nbrs(prev)   (α = 1, the triangle step)
        far_w     otherwise               (α = 1/q)

    times w(cur→x) when weighted. The α are NON-NEGATIVE INTEGERS
    (express 1/p : 1 : 1/q as an integer ratio — p=1, q=0.5 → (1, 1,
    2); p=4, q=1 → (1, 4, 4)), so the interval pick over the per-step
    prefix sums stays exact int64. Step 1 has no prev and takes the
    first-order pick. A step whose total weight is 0 (return_w = 0 with
    prev the only neighbor — the non-backtracking configuration) STOPS
    the walk, like a dangling node. The classic node2vec semantics
    assume a symmetrized edge list; pass one (union the reverse) when
    the input is directed. At α = (1, 1, 1) no prev state is carried
    and no per-step weights are built.

    Per-step weight sums are guarded loudly at setup: max capped
    out-degree × max α × max edge weight must fit int64 (exact Python
    ints), so Spark cannot silently wrap where the DuckDB mirrors'
    ::BIGINT casts error.

    Scale: adjacency is one groupBy into per-node sorted neighbor
    arrays; each step is one left join of the O(nodes) frontier against
    it (the second-order frontier carries prev's neighbor array forward
    from the previous step's join for the distance-1 membership test).
    The frontier never grows and accumulates the walk path in-row, so
    the whole walk is ONE pipelined DAG with a single posexplode and one
    final eager checkpoint pinning the corpus for multi-scan consumers;
    ``checkpoint_every`` truncates lineage for long walks.
    ``max_degree`` is the ENFORCED hub cap: each node's sorted neighbor
    array is truncated to its first ``max_degree`` entries (the
    deterministic sorted prefix, mirrored verbatim in SQL). Without a
    cap a super-node's adjacency row, and the O(cap²) in-array prefix
    work, is bounded only by its degree — on power-law graphs set it.
    Capping biases walks at capped hubs toward their smallest-id
    neighbors (documented, deterministic)."""
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    if max_degree is not None and max_degree < 1:
        raise ValueError(f"max_degree must be >= 1, got {max_degree}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    alpha = (return_w, common_w, far_w)
    if any((not isinstance(a, int)) or a < 0 for a in alpha):
        raise ValueError(
            f"node2vec weights must be non-negative ints, got {alpha}"
        )
    if max(alpha) < 1:
        raise ValueError("node2vec weights must not all be zero")
    second_order = alpha != (1, 1, 1)
    from etl_instagram_spark.functions.text import hash32

    # the edge list is pinned: the bounds, adj and the walk-start node
    # set all read it, and without the pin each re-runs the caller's
    # full upstream edge lineage (for bipartite_order_edges that is the
    # orders⋈lineitem join)
    max_w, deg = 1, max_degree
    if weight_col is None:
        e = (
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        e = _sum_weights(
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
                F.col(weight_col).cast("long").alias("w"),
            )
        ).localCheckpoint(eager=True)
        # uncapped, the same pass reads the max out-degree too
        max_w, n = _weight_bounds(
            e, "random_walks", weight_col,
            by="src" if max_degree is None else None,
        )
        deg = max_degree or n
        e = e.drop("__nulls")
    # int64 bound on the per-step weight sum (max out-degree × max α ×
    # max edge weight), checked before any sum is built. An unweighted
    # first-order walk sums nothing; a capped walk reads its real
    # degree only when the static cap is too coarse.
    top_w = max(alpha) * (max_w or 1)
    if top_w > 1 and (deg is None or deg * top_w > 2**63 - 1):
        # per-src counts, top-1: no second shuffle for a global max
        hub = e.groupBy("src").count().orderBy(F.desc("count")).first()
        deg = hub and hub["count"]
        if deg and max_degree is not None:
            deg = min(deg, max_degree)
    if deg is not None and deg * top_w > 2**63 - 1:
        raise ValueError(
            "random_walks: per-step weight sum could overflow int64 "
            f"(max out-degree {deg} × max α {max(alpha)} × max edge "
            f"weight {max_w}) — cap max_degree or rescale weights"
        )
    ecap = e
    if max_degree is not None:
        # cap BEFORE collecting: row_number streams through the sorted
        # partition, so no aggregation buffer ever holds a hub's full
        # neighbor list (slice-after-collect_list would). The walk START
        # set below stays the UNCAPPED node set — capping only thins
        # out-edges, it must not delete walk starts.
        from pyspark.sql import Window

        w = Window.partitionBy("src").orderBy("dst")
        ecap = (
            e.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_degree)
            .drop("__rn")
        )
    if weight_col is None:
        adj = (
            ecap.groupBy(F.col("src").alias("node"))
            .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
            .localCheckpoint(eager=True)
        )
    else:
        # dst-ordered parallel arrays + inclusive prefix sums: the
        # interval walk reads cumw like a CDF. struct sort orders by
        # the first field (dst), keeping nbrs/ws aligned.
        adj = (
            ecap.groupBy(F.col("src").alias("node"))
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("dst", "w"))
                ).alias("__a")
            )
            .select(
                "node",
                F.expr("transform(__a, x -> x.dst)").alias("nbrs"),
                F.expr(
                    "transform(__a, (x, i) -> aggregate("
                    " slice(__a, 1, i + 1), cast(0 as bigint),"
                    " (acc, y) -> acc + y.w))"
                ).alias("cumw"),
            )
            .localCheckpoint(eager=True)
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # second-order transition weights, dst-sorted like nbrs: α(x), times
    # the edge weight read back off the prefix sums when weighted
    alpha_x = (
        f"cast(CASE WHEN x = prev THEN {return_w}"
        f" WHEN array_contains(nbrs_prev, x) THEN {common_w}"
        f" ELSE {far_w} END AS bigint)"
    )
    if weight_col is None:
        wts = f"transform(nbrs, x -> {alpha_x})"
    else:
        wts = (
            f"transform(nbrs, (x, i) -> {alpha_x}"
            " * (cumw[i] - if(i = 0, 0, cumw[i - 1])))"
        )
    # the frontier carries the whole walk as an in-row array (r18): one
    # posexplode at the end replaces a per-step union of (walk_id,
    # step, node) slices, and because each step's only consumer is the
    # next step there is no per-step materialization barrier — the walk
    # is ONE pipelined DAG of left joins against the checkpointed adj.
    # A finished walk (dangling node, or total weight 0) sets node to
    # NULL and rides through with its path intact.
    # The frontier is spread over defaultParallelism up front (r19):
    # AQE rightly coalesces the tiny node-set exchange to one
    # partition, but that serializes the per-row in-array work (O(cap²)
    # per step) onto a single task; one cheap round-robin shuffle of
    # the O(nodes) frontier parallelizes every step. Row placement
    # cannot change values — each walk is a pure per-row function of
    # (walk_id, adj).
    frontier = nodes.repartition(
        edges.sparkSession.sparkContext.defaultParallelism
    ).select(
        F.col("node").alias("walk_id"),
        "node",
        F.array("node").alias("path"),
    )
    for i in range(1, walk_len + 1):
        pick = hash32(
            F.concat_ws(
                "\x1f",
                F.lit(seed),
                F.col("walk_id").cast("string"),
                F.lit(str(i)),
            )
        )
        step = frontier.join(adj, "node", "left")
        if second_order and i > 1:
            step = step.withColumn("__wts", F.expr(wts)).withColumn(
                "__cumw",
                F.expr(
                    "transform(__wts, (x, i) -> aggregate("
                    " slice(__wts, 1, i + 1), cast(0 as bigint),"
                    " (acc, y) -> acc + y))"
                ),
            )
            # a 0 total (weight-0 stop) and a NULL one (finished walk)
            # both fall to the otherwise-NULL branch; CASE short-circuits,
            # so the ANSI-mode ``% 0`` path is never evaluated
            cum, alive = "__cumw", F.element_at("__cumw", -1) > 0
        elif weight_col is not None:
            cum, alive = "cumw", F.col("cumw").isNotNull()
        else:
            cum, alive = None, F.col("nbrs").isNotNull()
        if cum is None:
            idx = pick % F.size("nbrs") + 1
        else:
            r = pick % F.element_at(cum, -1)
            idx = F.size(F.filter(cum, lambda c: c <= r)) + 1
        nxt = F.when(alive, F.element_at("nbrs", idx.cast("int")))
        cols = [
            "walk_id",
            nxt.alias("node"),
            F.when(alive, F.concat("path", F.array(nxt)))
            .otherwise(F.col("path"))
            .alias("path"),
        ]
        if second_order and i < walk_len:
            cols += [
                F.when(alive, F.col("node")).alias("prev"),
                F.when(alive, F.col("nbrs")).alias("nbrs_prev"),
            ]
        frontier = step.select(*cols)
        if i % checkpoint_every == 0 and i < walk_len:
            frontier = frontier.localCheckpoint(eager=True)
    return frontier.localCheckpoint(eager=True).select(
        "walk_id", F.posexplode("path").alias("step", "node")
    )


def random_walks_sql(
    edges_sql: str,
    walk_len: int = 4,
    seed: str = "walk",
    max_degree: int | None = None,
    weighted: bool = False,
) -> str:
    """Standalone SQL mirror of :func:`random_walks` (DuckDB) — same
    md5 step hash, same sorted-adjacency indexing (and the same
    sorted-prefix ``max_degree`` truncation), one CTE per step.
    ``weighted=True`` expects ``edges_sql`` to produce (src, dst, w)
    and replays the cumulative-weight interval walk."""
    from etl_instagram_spark.functions.text import hash32_sql

    wsel = ", w" if weighted else ""
    if max_degree is not None:
        cap_cte = (
            f"ecap AS (SELECT src, dst{wsel} FROM"
            " (SELECT *, row_number() OVER"
            "  (PARTITION BY src ORDER BY dst) AS rn FROM e)"
            f" WHERE rn <= {int(max_degree)})"
        )
    else:
        cap_cte = f"ecap AS (SELECT src, dst{wsel} FROM e)"
    if weighted:
        e_cte = (
            "e AS MATERIALIZED (SELECT src::BIGINT AS src,"
            " dst::BIGINT AS dst, (sum(w))::BIGINT AS w"
            " FROM eraw GROUP BY 1, 2)"
        )
        adj_cte = (
            "adjraw AS (SELECT src AS node,"
            " list(dst ORDER BY dst) AS nbrs,"
            " list(w ORDER BY dst) AS ws FROM ecap GROUP BY src),"
            " adj AS MATERIALIZED (SELECT node, nbrs,"
            " list_transform(range(1, len(ws) + 1),"
            " i -> (list_sum(ws[1:i]))::BIGINT) AS cumw FROM adjraw)"
        )
    else:
        e_cte = (
            "e AS MATERIALIZED"
            " (SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst FROM eraw)"
        )
        adj_cte = (
            "adj AS MATERIALIZED (SELECT src AS node,"
            " list_sort(list(dst)) AS nbrs FROM ecap GROUP BY src)"
        )
    parts = [
        f"eraw AS ({edges_sql})",
        e_cte,
        cap_cte,
        adj_cte,
        "w0 AS (SELECT node AS walk_id, 0 AS step, node FROM"
        " (SELECT src AS node FROM e UNION SELECT dst FROM e))",
    ]
    for i in range(1, walk_len + 1):
        pick = hash32_sql(
            f"'{seed}' || chr(31) || w.walk_id::VARCHAR || chr(31) || '{i}'"
        )
        if weighted:
            nxt = (
                f"a.nbrs[(len(list_filter(a.cumw,"
                f" c -> c <= ({pick}) % a.cumw[-1])) + 1)::INT]"
            )
        else:
            nxt = f"a.nbrs[(({pick}) % len(a.nbrs) + 1)::INT]"
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT w.walk_id, {i} AS step,"
            f" {nxt} AS node"
            f" FROM w{i - 1} w JOIN adj a ON a.node = w.node)"
        )
    union = " UNION ALL ".join(
        f"SELECT walk_id, step, node FROM w{i}" for i in range(walk_len + 1)
    )
    return ",\n".join(parts) + f", walks AS ({union})"


def triangle_counts_sql(edges_sql: str) -> str:
    """Standalone SQL mirror of :func:`triangle_counts` over an edge
    SELECT producing (src, dst) — same degree-ordered orientation, same
    wedge-at-smallest-corner join shape."""
    return f"""
    WITH eraw AS ({edges_sql}),
    e AS MATERIALIZED (
      SELECT DISTINCT least(src, dst)::BIGINT AS lo,
                      greatest(src, dst)::BIGINT AS hi
      FROM eraw WHERE src <> dst),
    deg AS MATERIALIZED (
      SELECT id, count(*) AS degree
      FROM (SELECT lo AS id FROM e UNION ALL SELECT hi FROM e) GROUP BY id),
    o AS MATERIALIZED (
      SELECT CASE WHEN fwd THEN lo ELSE hi END AS src,
             CASE WHEN fwd THEN hi ELSE lo END AS dst,
             CASE WHEN fwd THEN dhi ELSE dlo END AS ddst
      FROM (SELECT e.lo, e.hi, dl.degree AS dlo, dh.degree AS dhi,
                   (dl.degree <= dh.degree) AS fwd
            FROM e
            JOIN deg dl ON dl.id = e.lo
            JOIN deg dh ON dh.id = e.hi)),
    tri AS (SELECT x.a, x.b, y.c
            FROM (SELECT src AS a, dst AS b, ddst AS db FROM o) x
            JOIN (SELECT src AS a, dst AS c, ddst AS dc FROM o) y
              ON x.a = y.a
             AND (x.db < y.dc OR (x.db = y.dc AND x.b < y.c))
            JOIN o z ON z.src = x.b AND z.dst = y.c),
    per_node AS (
      SELECT id, count(*) AS n_triangles
      FROM (SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY id)
    SELECT deg.id,
           COALESCE(per_node.n_triangles, 0)::BIGINT AS n_triangles,
           deg.degree,
           CASE WHEN deg.degree >= 2 THEN
             round(COALESCE(per_node.n_triangles, 0) * 2.0
                   / (deg.degree * (deg.degree - 1)), 6)
           END AS clustering_coeff
    FROM deg LEFT JOIN per_node ON per_node.id = deg.id
    """


BIPARTITE_ORDER_EDGES_WEIGHTED_SQL = """
    WITH ow AS (SELECT 2 * o_custkey AS cust, 2 * l_suppkey + 1 AS supp,
                       count(*) AS w
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                GROUP BY 1, 2)
    SELECT cust AS src, supp AS dst, w FROM ow
    UNION ALL
    SELECT supp AS src, cust AS dst, w FROM ow
"""


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int | None = None,
) -> DataFrame:
    """The k-CORE of an undirected graph: the maximal subgraph where
    every node has degree ≥ k (Seidman 1983; Batagelj-Zaveršnik gives
    the sequential peel, this is the synchronous distributed peel —
    Montresor et al. "Distributed k-core decomposition", PODC'11).
    Returns (id, core_degree): the surviving nodes with their degree
    INSIDE the core. The corpus-curation use is graph denoising — keep
    the densely-connected entity/co-occurrence backbone, drop tendrils
    (degree-1 chains) that one noisy record can attach anywhere.

    Spark shape: iterate (degree groupBy → keep ids deg ≥ k →
    semi-join edges on BOTH endpoints) until the edge count stops
    changing. Every step is a key-equi shuffle over the CURRENT edge
    set, which only shrinks; the per-round localCheckpoint truncates
    lineage and the driver holds one count per round. Synchronous
    peeling removes all sub-k nodes per round, so rounds ≤ longest
    peel chain (≤ diameter, log-ish on real graphs) — NOT n rounds.
    The DuckDB mirror (:func:`k_core_sql`) replays the same peel with
    a loud convergence assert on its fixed round budget.

    ``max_rounds`` is the Spark-side twin of that assert (the
    dedup_components ``max_iter`` discipline): when set, a peel that
    has not reached its fixpoint within the budget raises instead of
    looping on — used to PIN the margin between real data's peel depth
    and the oracle's fixed budget. ``None`` (default) peels to the
    fixpoint unconditionally."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds is not None and max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1 or None, got {max_rounds}")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("lo"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    rounds = 0  # SHRINKING rounds only: the fixpoint-confirming no-op
    # round is free, so a peel of depth exactly max_rounds passes
    while True:
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"k_core: peel not converged within {max_rounds} rounds — "
                f"raise the budget (and the SQL mirror's) for this graph"
            )
        deg = (
            e.select(F.col("lo").alias("id"))
            .union(e.select(F.col("hi").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("id")
        e2 = (
            e.join(keep.withColumnRenamed("id", "lo"), "lo", "leftsemi")
            .join(keep.withColumnRenamed("id", "hi"), "hi", "leftsemi")
            .select("lo", "hi")
            .localCheckpoint(eager=True)
        )
        n2 = e2.count()
        if n2 == n_edges:
            break
        rounds += 1
        e, n_edges = e2, n2
    return (
        e.select(F.col("lo").alias("id"))
        .union(e.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def k_core_sql(edges_sql: str, k: int, rounds: int = 16) -> str:
    """Standalone SQL mirror of :func:`k_core` (DuckDB): ``rounds``
    synchronous peel rounds as MATERIALIZED CTEs, ending in a ``core``
    CTE whose edge set is convergence-ASSERTED (last two rounds equal,
    else ``error(...)`` — the _sql_cc_rounds discipline: a too-shallow
    budget fails loudly, never silently certifies a half-peeled
    graph)."""
    parts = [
        f"eraw AS ({edges_sql})",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst)::BIGINT AS lo,"
        " greatest(src, dst)::BIGINT AS hi FROM eraw WHERE src <> dst)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT id FROM ("
            f" SELECT id, count(*) AS degree FROM ("
            f"  SELECT lo AS id FROM e{i - 1}"
            f"  UNION ALL SELECT hi FROM e{i - 1}) u GROUP BY id)"
            f" WHERE degree >= {int(k)})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT lo, hi FROM e{i - 1}"
            f" WHERE lo IN (SELECT id FROM k{i})"
            f" AND hi IN (SELECT id FROM k{i}))"
        )
    parts.append(
        f"core AS MATERIALIZED (SELECT lo, CASE WHEN"
        f" (SELECT count(*) FROM e{rounds})"
        f" = (SELECT count(*) FROM e{rounds - 1})"
        f" THEN hi ELSE error('k_core oracle: peel not converged within"
        f" {rounds} rounds — raise the budget') END AS hi"
        f" FROM e{rounds})"
    )
    return ",\n".join(parts)


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 5,
    src: str = "src",
    dst: str = "dst",
    include_self: bool = True,
    weight_col: str | None = None,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.,
    Phys. Rev. E 2007) — community detection over the undirected graph,
    the curation use being source/domain clustering BEFORE mixture
    balancing and per-domain caps (group the structurally-entangled
    sources, then cap the cluster, not the URL).

    Spark-first and REPLAYABLE-BY-CONSTRUCTION, the random_walks
    discipline: no RNG and no nondeterministic visit order anywhere —
    every node starts labeled with its own id; each SYNCHRONOUS round
    every node adopts the argmax neighbor label with the PINNED
    tiebreak (max vote count, then min label), which both engines
    resolve identically on exact integers. ``include_self`` (default)
    adds one vote for the node's own current label — this damps the
    classic synchronous two-coloring oscillation on bipartite-ish
    structure and keeps isolated nodes labeled without a repair join.
    ``n_rounds`` is part of the operator spec (both engines run the
    same fixed budget — no convergence assert needed, unlike the
    k_core peel where Spark iterates to fixpoint).

    ``weight_col`` switches to WEIGHTED voting: each neighbor's vote
    counts its edge weight (positive ints; duplicate rows sum, and the
    symmetrized undirected weight is the SUM of both directions'
    weights). The argmax becomes (max weight-sum, min label) — still
    exact int64, still pinned. The self-vote stays weight 1
    (documented: against heavy edges its damping effect shrinks, by
    design — the self-vote models inertia, not an edge). w = 1
    everywhere reduces BIT-IDENTICALLY to the unweighted path (sum of
    ones IS the count; pinned by test). Per-node incident weight is
    guarded loudly against int64 overflow.

    Output: (id, label) — the community assignment after ``n_rounds``;
    labels are node ids, so they are stable, comparable BIGINTs.

    Scale: per round = one key-equi join of the O(nodes) label frame
    against the pinned symmetric edge list + one (id, label) counting
    groupBy (map-side combine) + one per-id struct-min argmax (also
    map-side combinable) — the PageRank shuffle shape; label frames are
    localCheckpoint-pinned per round to truncate lineage. DuckDB
    mirror: :func:`label_propagation_sql`."""
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    if weight_col is None:
        e = (
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        sym = (
            e.unionByName(
                e.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            .select("src", "dst", F.lit(1).cast("long").alias("w"))
            .localCheckpoint(eager=True)
        )
    else:
        e = (
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
                F.col(weight_col).cast("long").alias("w"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        # undirected weight = sum over duplicates AND both directions
        sym = _sum_weights(
            e.unionByName(
                e.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "w",
                )
            )
        ).localCheckpoint(eager=True)
        _weight_bounds(sym, "label_propagation", weight_col)
        # the per-node vote sum is bounded by total incident weight —
        # checked loudly in exact ints (the random_walks convention)
        inc = (
            sym.groupBy("src")
            .agg(F.sum("w").alias("iw"))
            .agg(F.max("iw").alias("mx"))
            .collect()[0]["mx"]
        )
        if inc is not None and int(inc) > 2**62:
            raise ValueError(
                f"label_propagation: per-node incident weight {inc} "
                "could overflow the int64 vote sum — rescale weights"
            )
        sym = sym.drop("__nulls")
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(n_rounds):
        msgs = sym.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label", "w")
        if include_self:
            msgs = msgs.unionByName(
                labels.select("id", "label", F.lit(1).cast("long").alias("w"))
            )
        labels = (
            msgs.groupBy("id", "label")
            .agg(F.sum("w").alias("cnt"))
            .groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label")
                    )
                )["label"].alias("label")
            )
            .localCheckpoint(eager=True)
        )
    return labels


def label_propagation_sql(
    edges_sql: str,
    n_rounds: int = 5,
    include_self: bool = True,
    weighted: bool = False,
) -> str:
    """Standalone SQL mirror of :func:`label_propagation` (DuckDB):
    the same symmetric edge set, the same per-round tally and (max
    vote, min label) argmax as fixed-round MATERIALIZED CTEs, ending
    in a ``labels`` CTE with (id, label). ``weighted=True`` expects
    ``edges_sql`` to produce (src, dst, w) and replays weighted votes
    (undirected weight = sum over duplicates and both directions,
    self-vote weight 1)."""
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    if weighted:
        esym_cte = (
            "esym AS MATERIALIZED (SELECT src, dst, (sum(w))::BIGINT AS w"
            " FROM ("
            " SELECT src::BIGINT AS src, dst::BIGINT AS dst, w FROM eraw"
            " WHERE src <> dst"
            " UNION ALL"
            " SELECT dst::BIGINT, src::BIGINT, w FROM eraw"
            " WHERE src <> dst) GROUP BY src, dst)"
        )
    else:
        esym_cte = (
            "esym AS MATERIALIZED (SELECT src, dst, 1::BIGINT AS w FROM ("
            " SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst"
            " FROM (SELECT src, dst FROM eraw WHERE src <> dst"
            " UNION ALL"
            " SELECT dst, src FROM eraw WHERE src <> dst)))"
        )
    parts = [
        f"eraw AS ({edges_sql})",
        esym_cte,
        "l0 AS MATERIALIZED (SELECT src AS id, src AS label"
        " FROM (SELECT DISTINCT src FROM esym))",
    ]
    for i in range(1, n_rounds + 1):
        self_union = (
            f" UNION ALL SELECT id, label, 1::BIGINT AS w FROM l{i - 1}"
            if include_self
            else ""
        )
        parts.append(
            f"m{i} AS (SELECT e.dst AS id, l.label, e.w"
            f" FROM esym e JOIN l{i - 1} l ON l.id = e.src{self_union})"
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT id, label FROM ("
            f" SELECT id, label, row_number() OVER ("
            f"  PARTITION BY id ORDER BY sum(w) DESC, label) AS rn"
            f" FROM m{i} GROUP BY id, label) WHERE rn = 1)"
        )
    parts.append(f"labels AS (SELECT id, label FROM l{n_rounds})")
    return ",\n".join(parts)


def node2vec_walks_sql(
    edges_sql: str,
    walk_len: int = 4,
    seed: str = "n2v",
    return_w: int = 1,
    common_w: int = 1,
    far_w: int = 1,
    max_degree: int | None = None,
    weighted: bool = False,
) -> str:
    """Standalone SQL mirror of :func:`random_walks`' second-order
    (node2vec) walk (DuckDB) — same md5 step hash, same sorted
    adjacency and sorted-prefix cap, same integer α weights,
    cumulative-interval pick, and W = 0 stop; one CTE per step, ending
    in a ``walks`` CTE. ``weighted=True`` expects ``edges_sql`` to
    produce (src, dst, w) and replays the α·w transition weights with
    the raw-weight interval at step 1. Written independently of
    :func:`random_walks_sql` (it carries prev and joins prev's
    adjacency every step), so at α = (1, 1, 1) the two mirrors are two
    separate references for the same first-order walk."""
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    ws = (return_w, common_w, far_w)
    if any((not isinstance(w, int)) or w < 0 for w in ws):
        raise ValueError(
            f"node2vec weights must be non-negative ints, got {ws}"
        )
    if max(ws) < 1:
        raise ValueError("node2vec weights must not all be zero")
    from etl_instagram_spark.functions.text import hash32_sql

    wsel = ", w" if weighted else ""
    if max_degree is not None:
        cap_cte = (
            f"ecap AS (SELECT src, dst{wsel} FROM"
            " (SELECT *, row_number() OVER"
            "  (PARTITION BY src ORDER BY dst) AS rn FROM e)"
            f" WHERE rn <= {int(max_degree)})"
        )
    else:
        cap_cte = f"ecap AS (SELECT src, dst{wsel} FROM e)"
    if weighted:
        e_cte = (
            "e AS MATERIALIZED (SELECT src::BIGINT AS src,"
            " dst::BIGINT AS dst, (sum(w))::BIGINT AS w"
            " FROM eraw GROUP BY 1, 2)"
        )
        adj_cte = (
            "adjraw AS (SELECT src AS node,"
            " list(dst ORDER BY dst) AS nbrs,"
            " list(w ORDER BY dst) AS ews FROM ecap GROUP BY src),"
            " adj AS MATERIALIZED (SELECT node, nbrs, ews,"
            " list_transform(range(1, len(ews) + 1),"
            " i -> (list_sum(ews[1:i]))::BIGINT) AS cumw0 FROM adjraw)"
        )
    else:
        e_cte = (
            "e AS MATERIALIZED"
            " (SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst FROM eraw)"
        )
        adj_cte = (
            "adj AS MATERIALIZED (SELECT src AS node,"
            " list_sort(list(dst)) AS nbrs FROM ecap GROUP BY src)"
        )
    parts = [
        f"eraw AS ({edges_sql})",
        e_cte,
        cap_cte,
        adj_cte,
        "w0 AS (SELECT node AS walk_id, 0 AS step, node FROM"
        " (SELECT src AS node FROM e UNION SELECT dst FROM e))",
    ]
    pick1 = hash32_sql(
        f"'{seed}' || chr(31) || w.walk_id::VARCHAR || chr(31) || '1'"
    )
    if weighted:
        nxt1 = (
            f"a.nbrs[(len(list_filter(a.cumw0,"
            f" c -> c <= ({pick1}) % a.cumw0[-1])) + 1)::INT]"
        )
    else:
        nxt1 = f"a.nbrs[(({pick1}) % len(a.nbrs) + 1)::INT]"
    parts.append(
        "w1 AS MATERIALIZED (SELECT w.walk_id, 1 AS step,"
        " w.node AS prev,"
        f" {nxt1} AS node"
        " FROM w0 w JOIN adj a ON a.node = w.node)"
    )
    for i in range(2, walk_len + 1):
        pick = hash32_sql(
            f"'{seed}' || chr(31) || walk_id::VARCHAR || chr(31) || '{i}'"
        )
        if weighted:
            alpha = (
                f"(CASE WHEN a.nbrs[j] = w.prev THEN {int(return_w)}"
                f" WHEN list_contains(ap.nbrs, a.nbrs[j]) THEN"
                f" {int(common_w)} ELSE {int(far_w)} END)::BIGINT"
            )
            wts = (
                f"list_transform(range(1, len(a.nbrs) + 1),"
                f" j -> {alpha} * a.ews[j])"
            )
        else:
            wts = (
                f"list_transform(a.nbrs, x -> (CASE WHEN x = w.prev THEN"
                f" {int(return_w)} WHEN list_contains(ap.nbrs, x) THEN"
                f" {int(common_w)} ELSE {int(far_w)} END)::BIGINT)"
            )
        parts.append(
            f"s{i} AS (SELECT w.walk_id, w.node AS prev, a.nbrs,"
            f" list_transform(range(1, len({wts}) + 1),"
            f"  i -> (list_sum(({wts})[1:i]))::BIGINT) AS cumw"
            f" FROM w{i - 1} w JOIN adj a ON a.node = w.node"
            f" JOIN adj ap ON ap.node = w.prev)"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT walk_id, {i} AS step, prev,"
            f" nbrs[(len(list_filter(cumw,"
            f"  c -> c <= ({pick}) % cumw[-1])) + 1)::INT] AS node"
            f" FROM s{i} WHERE cumw[-1] > 0)"
        )
    union = " UNION ALL ".join(
        ["SELECT walk_id, step, node FROM w0"]
        + [f"SELECT walk_id, step, node FROM w{i}" for i in range(1, walk_len + 1)]
    )
    return ",\n".join(parts) + f", walks AS ({union})"
