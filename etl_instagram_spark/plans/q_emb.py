"""Embedding-family queries: cosine kNN, hyperplane-LSH / IVF / PQ ANN with
measured recall, semantic dedup, cross-modal joins, kNN-join recall, and
certified iterative k-means, each with its DuckDB oracle."""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.functions import text as T
from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.queries import _t, query
from etl_instagram_spark.plans.q_docs import _SQL_QUALITY
from etl_instagram_spark.plans.q_shared import (
    SQL_TOKS,
    _as_double,
    _dot,
    _spread,
    oracle_parquet,
)


@query("emb_knn_cosine", gate=False)
def emb_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 cosine neighbors of vec_id=0. One scan, the
    query vector broadcast as a 1-row dimension, TakeOrderedAndProject —
    no shuffle of the embedding column; the at-scale baseline ANN."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    qv = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("qv")
    )
    v = _as_double(F.col("embedding"))
    cos = _dot(v, F.col("qv")) / (
        F.sqrt(_dot(v, v)) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    return (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


SQL_KNN_COSINE = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           round(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
    FROM embeddings CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


oracle("emb_knn_cosine", SQL_KNN_COSINE)


# ---------------------------------------------------------------------------
# embeddings: hyperplane-LSH buckets + bucketed ANN
# ---------------------------------------------------------------------------

HYPERPLANE_BITS = 8
EMBEDDING_DIM = 64


def hyperplane_signs(bits: int = HYPERPLANE_BITS, dim: int = EMBEDDING_DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 parity — reproducible on any
    engine, no PRNG state to ship."""
    return [
        [
            1 if int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(bits)
    ]


_PLANES = hyperplane_signs()


def _bucket_col() -> Column:
    v = _as_double(F.col("embedding"))
    bits = []
    for j, plane in enumerate(_PLANES):
        # one array literal per plane, not dim py4j lit() calls
        w = F.lit([float(x) for x in plane])
        bits.append(F.when(_dot(v, w) >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket


def _sql_bucket() -> str:
    terms = []
    for j, plane in enumerate(_PLANES):
        lit = "[" + ", ".join(f"{x}.0" for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


# (the per-vector bucket computation itself is oracle-replayed inside
# emb_ann_lsh_topk and emb_ann_recall — a separate histogram query added
# no new checked surface)


def _sql_ann_lsh_topk() -> str:
    return f"""
    WITH b AS (SELECT vec_id, label, embedding, {_sql_bucket()} AS bucket
               FROM embeddings),
         q AS (SELECT embedding::DOUBLE[] AS qv, bucket AS qbucket
               FROM b WHERE vec_id = 0)
    SELECT vec_id, label,
           round(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
    FROM b CROSS JOIN q
    WHERE bucket = qbucket AND vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 5
    """


@query("emb_near_dedup")
def emb_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.near_dedup_embeddings run whole: hyperplane-LSH
    buckets (8 bits) → multi-probe Hamming ≤ 1 candidates → exact cosine
    ≥ 0.35 verify → drop-larger-id survivors, reduced to a one-row
    summary. The oracle replays every stage in SQL from the SAME
    hyperplane constants (Hamming-radius probing collapses to
    ``bit_count(xor(bucket_a, bucket_b)) <= r`` on the pair), so this is
    an end-to-end gate on the embedding near-dup operator — the one
    dedup-family member that previously had no oracle row. The loose
    0.35 threshold is deliberate: the synthetic vectors are isotropic
    (no planted near-dups), and a threshold the data can actually cross
    makes the verify+survivor path produce a non-trivial, value-checked
    count instead of vacuously passing at 0.97.

    Single action: survivors left-join back to the scan; one aggregate
    emits all counters. (Replaces emb_label_stats, whose array-math
    surface emb_knn_cosine already exercises.)"""
    from etl_instagram_spark.operators.dedup import near_dedup_embeddings

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    kept = near_dedup_embeddings(
        emb, "vec_id", "embedding", threshold=0.35, bits=HYPERPLANE_BITS,
        multi_probe_hamming=1, dim=EMBEDDING_DIM,
    ).select("vec_id", F.lit(1).alias("__kept"))
    return (
        emb.join(kept, "vec_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count("__kept").alias("n_survivors"),
        )
        .select(
            "n_vecs",
            "n_survivors",
            (F.col("n_vecs") - F.col("n_survivors")).alias("n_dropped"),
        )
    )


oracle(
    "emb_near_dedup",
    f"""
    WITH b AS (SELECT vec_id, embedding, {_sql_bucket()} AS bucket FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS ia, bb.vec_id AS ib,
                  list_dot_product(a.embedding::DOUBLE[], bb.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(bb.embedding::DOUBLE[], bb.embedding::DOUBLE[]))) AS cos
           FROM b a JOIN b bb
             ON bit_count(xor(a.bucket, bb.bucket)) <= 1
                AND a.vec_id < bb.vec_id),
         losers AS (SELECT DISTINCT ib FROM pairs WHERE cos >= 0.35)
    SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
           (SELECT count(*) FROM embeddings) - (SELECT count(*) FROM losers) AS n_survivors,
           (SELECT count(*) FROM losers) AS n_dropped
    """,
)


@query("emb_semantic_dedup")
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.semantic_dedup run whole (SemDeDup, Abbas et al.
    2023): seeded-Lloyd's coarse quantizer (8 cells, same deterministic
    fit as emb_ann_ivf_recall) → within-cell cosine pairs ≥ 0.35 →
    drop-larger-id survivors, summarized PER CELL so the hash checks the
    cell assignment, the pair scoring, and the survivor rule together.
    Exercises the stored-cell path (``cell_col``) — the ingest-time
    stamping contract ``ann_ivf_topk`` shares.

    Threshold 0.35 for the same reason as emb_near_dedup: the synthetic
    vectors are isotropic, and a crossable threshold makes the verify +
    survivor path produce non-trivial counts (≈100 within-cell pairs at
    sf0.01) instead of vacuously passing."""
    from etl_instagram_spark.operators.dedup import semantic_dedup_pairs
    from etl_instagram_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_cell,
    )

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    centroids = fit_ivf_centroids(emb, n_clusters=8, seed=42, order_col="vec_id")
    # pin the stamped frame: the self-join's two branches and the final
    # survivor join would otherwise each re-run the 8×64 cell argmin
    cells = emb.withColumn(
        "cell", ivf_cell("embedding", centroids)
    ).localCheckpoint(eager=True)
    losers = (
        semantic_dedup_pairs(cells, "vec_id", "embedding", centroids, cell_col="cell")
        .filter(F.col("cos") >= 0.35)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__lost", F.lit(1))
    )
    return (
        cells.join(losers, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count("__lost").alias("n_dropped"),
            F.sum(F.when(F.col("__lost").isNull(), F.col("vec_id"))).alias(
                "survivor_id_sum"
            ),
        )
        .select(
            "cell",
            "n_vecs",
            (F.col("n_vecs") - F.col("n_dropped")).alias("n_survivors"),
            "n_dropped",
            "survivor_id_sum",
        )
        .orderBy("cell")
    )


def _semantic_dedup_oracle_sql() -> str:
    """DuckDB mirror of emb_semantic_dedup (lazy — centroid literals are
    fit from the gate data): cell assignment via ``_sql_centroid_dists``
    argmin, same-cell self-join, round-6 cosine with the zero-norm
    guard, keep-smallest-id survivors, per-cell rollup."""
    centroids, con, _ = _fit_oracle_centroids(8, seed=42)
    con.close()
    dists = _sql_centroid_dists(centroids)
    return f"""
    WITH cells AS (
      SELECT vec_id, embedding,
             CAST(list_position(d, list_min(d)) - 1 AS INT) AS cell
      FROM (SELECT vec_id, embedding, {dists} AS d FROM embeddings)),
    pairs AS (
      SELECT b.vec_id AS ib,
             round(CASE
               WHEN list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
                    * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) = 0
               THEN 0.0
               ELSE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
             END, 6) AS cos
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    losers AS (SELECT DISTINCT ib AS vec_id FROM pairs WHERE cos >= 0.35)
    SELECT cell,
           count(*) AS n_vecs,
           count(*) - count(l.vec_id) AS n_survivors,
           count(l.vec_id) AS n_dropped,
           CAST(sum(CASE WHEN l.vec_id IS NULL THEN c.vec_id END) AS BIGINT)
             AS survivor_id_sum
    FROM cells c LEFT JOIN losers l USING (vec_id)
    GROUP BY cell ORDER BY cell
    """


oracle("emb_semantic_dedup", _semantic_dedup_oracle_sql)


# ---------------------------------------------------------------------------
# embeddings: ANN recall gates — similarity search as a MEASURED component
# ---------------------------------------------------------------------------


def _recall_pairs(emb: DataFrame, q: DataFrame, extra: dict[str, Column]) -> DataFrame:
    """Scored query×corpus pairs shared by both recall queries: cross-join
    the broadcast O(1)-row query side, drop self-pairs, score cosine, and
    attach each caller's candidate marker (Hamming radius / probed cell).
    Returned UN-checkpointed so tests can assert the join strategy
    (broadcast, never CartesianProduct); callers localCheckpoint the
    result before fanning it into the window branches."""
    v = _as_double(F.col("embedding"))
    cos = _dot(v, F.col("qv")) / (
        F.sqrt(_dot(v, v)) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cos, 6).alias("cos_sim"),
            *[c.alias(name) for name, c in extra.items()],
        )
    )


@query("emb_ann_recall", gate=False)
def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of multi-probe hyperplane-LSH ANN against the exact
    cosine top-10, for 5 query vectors × probe radii Hamming ≤ {1, 2} at
    once — the multi-probe knob's recall/scan trade-off is itself the
    measured, oracle-checked value (radius 2 probes ~14% of buckets vs
    ~3.5% at radius 1 and must never score lower). One distributed pass
    builds all query×candidate pairs (queries broadcast — O(1) rows);
    window ranks produce ground truth and per-radius ANN lists; a left
    join scores overlap. The oracle replays the ENTIRE path — buckets,
    Hamming probe, exact ranking — in SQL from the same hyperplane
    constants. Low absolute recall here is a property of the isotropic
    synthetic vectors (hyperplane LSH's worst case), which is exactly why
    the number is pinned rather than assumed."""
    from pyspark.sql import Window

    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).withColumn(
        "bucket", _bucket_col()
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    pairs = _recall_pairs(
        emb,
        q,
        {"ham": F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket")))},
    ).localCheckpoint(eager=True)  # scored pairs feed every window branch
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    gt = (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
        .crossJoin(spark.range(1, 3).select(F.col("id").cast("int").alias("probe_hamming")))
    )
    wp = Window.partitionBy("qid", "probe_hamming").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    ann = (
        pairs.crossJoin(
            spark.range(1, 3).select(F.col("id").cast("int").alias("probe_hamming"))
        )
        .filter(F.col("ham") <= F.col("probe_hamming"))
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= 10)
        .select("qid", "probe_hamming", "vec_id", F.lit(1).alias("hit"))
    )
    return (
        gt.join(ann, ["qid", "probe_hamming", "vec_id"], "left")
        .groupBy("qid", "probe_hamming")
        .agg(
            F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0, 2).alias(
                "recall_at_10"
            )
        )
        .orderBy("qid", "probe_hamming")
    )


oracle(
    "emb_ann_recall",
    f"""
    WITH b AS (SELECT vec_id, embedding, {_sql_bucket()} AS bucket FROM embeddings),
         q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, bucket AS qbucket
               FROM b WHERE vec_id < 5),
         radii AS (SELECT unnest([1, 2]) AS probe_hamming),
         pairs AS (
           SELECT qid, vec_id,
                  round(list_dot_product(embedding::DOUBLE[], qv)
                        / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                           * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim,
                  bit_count(xor(bucket, qbucket)) AS ham
           FROM b CROSS JOIN q WHERE vec_id <> qid),
         gt AS (SELECT qid, probe_hamming, vec_id FROM
                  (SELECT qid, vec_id,
                          row_number() OVER (PARTITION BY qid
                                             ORDER BY cos_sim DESC, vec_id) AS r
                   FROM pairs) CROSS JOIN radii WHERE r <= 10),
         ann AS (SELECT qid, probe_hamming, vec_id, 1 AS hit FROM
                  (SELECT qid, probe_hamming, vec_id,
                          row_number() OVER (PARTITION BY qid, probe_hamming
                                             ORDER BY cos_sim DESC, vec_id) AS r
                   FROM pairs CROSS JOIN radii WHERE ham <= probe_hamming)
                 WHERE r <= 10)
    SELECT qid, probe_hamming, round(sum(coalesce(hit, 0)) / 10.0, 2) AS recall_at_10
    FROM gt LEFT JOIN ann USING (qid, probe_hamming, vec_id)
    GROUP BY qid, probe_hamming ORDER BY qid, probe_hamming
    """,
)


@query("emb_ann_ivf_recall", gate=False)
def emb_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of IVF ANN (seeded NumPy-Lloyd's coarse quantizer,
    probe the 2 nearest of 8 cells) against the exact cosine top-10,
    same join-based scoring as emb_ann_recall — one distributed pass for
    all 5 queries; only the 5 query vectors and the 8 centroids touch
    the driver.

    Oracle-gated: the quantizer sample is DETERMINISTIC (order by vec_id
    before the 4096-row limit), so ``_ivf_oracle_sql`` below re-fits the
    identical centroids from the same parquet through the same
    ``lloyd_kmeans`` code and inlines them as DuckDB literals — the cell
    assignment, probe set, and ranking all replay in SQL."""
    from pyspark.sql import Window

    from etl_instagram_spark.operators.similarity import (
        _nearest_centroids,
        fit_ivf_centroids,
        ivf_cell,
    )

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    centroids = fit_ivf_centroids(
        emb, n_clusters=8, seed=42, order_col="vec_id"
    )
    qrows = sorted(
        emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )  # 5 rows — the broadcast-one-query-vector pattern, O(1) driver bytes
    q = spark.createDataFrame(
        [
            (
                int(r["vec_id"]),
                [float(x) for x in r["embedding"]],
                _nearest_centroids([float(x) for x in r["embedding"]], centroids, 2),
            )
            for r in qrows
        ],
        "qid long, qv array<double>, qcells array<int>",
    )
    cells = emb.withColumn("cell", ivf_cell("embedding", centroids))
    pairs = _recall_pairs(
        cells,
        q,
        {"probed": F.array_contains(F.col("qcells"), F.col("cell"))},
    ).localCheckpoint(eager=True)  # one evaluation of the cell-assignment chain
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    gt = (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
    )
    ann = (
        pairs.filter(F.col("probed"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id", F.lit(1).alias("hit"))
    )
    return (
        gt.join(ann, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0, 2).alias(
                "recall_at_10"
            )
        )
        .orderBy("qid")
    )


def _fit_oracle_centroids(n_clusters: int = 8, seed: int = 42):
    """Fit the ORACLE's copy of the gate centroids: read the same
    deterministic sample the Spark side uses (ORDER BY vec_id LIMIT
    4096, float→double is exact) from the gate parquet and run the
    identical seeded ``lloyd_kmeans`` — the literals it yields are
    bit-identical to what the Spark plan carries.

    The correctness gate runs at sf=0.01 by the driver contract; when
    exercising the oracle against another scale, point
    ``SPARK_GRAFT_ORACLE_SF_DIR`` at that directory. Returns
    (centroids, duckdb_connection, parquet_path) so callers can issue
    follow-up probes on the same data before closing."""
    import duckdb
    import numpy as np

    from etl_instagram_spark.operators.similarity import lloyd_kmeans

    path = oracle_parquet("embeddings")
    con = duckdb.connect()
    sample = con.sql(
        f"SELECT embedding::DOUBLE[] AS v FROM '{path}' "
        "WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    centroids = lloyd_kmeans(
        np.asarray([r[0] for r in sample], dtype=np.float64), n_clusters, seed=seed
    )
    return centroids, con, path


def _sql_centroid_dists(centroids: list[list[float]]) -> str:
    """DuckDB expression for the per-row centroid score array — the SAME
    ``similarity.shifted_score_sql`` text the Spark side (``ivf_cell``)
    emits, with only the element accessor swapped (DuckDB 1-based
    ``embedding[i]`` for Spark ``try_element_at``). Identical ``repr``
    literals, identical left-to-right addition order, identical
    ``‖c‖²−2·v·c`` shape → both engines rank by bit-identical IEEE
    doubles, so cross-engine argmin agreement holds by construction on
    ANY data, not just by the measured top-2 margin of the gate data."""
    from etl_instagram_spark.operators.similarity import shifted_score_sql

    def elem(i: int) -> str:
        return f"CAST(embedding[{i}] AS DOUBLE)"

    return (
        "["
        + ", ".join(shifted_score_sql(elem, c) for c in centroids)
        + "]"
    )


def _ivf_oracle_sql() -> str:
    """DuckDB mirror of emb_ann_ivf_recall, built LAZILY (resolved when
    the oracle is read, not at import time) because its literals are
    FIT from the gate data (``_fit_oracle_centroids``), the way
    ``_sql_bucket()`` inlines the hyperplane constants. Cell assignment
    replays as argmin over a distance array (``_sql_centroid_dists``);
    the per-query probe sets come from the same ``_nearest_centroids``
    code and inline as a VALUES list."""
    from etl_instagram_spark.operators.similarity import _nearest_centroids

    centroids, con, path = _fit_oracle_centroids(8, seed=42)
    qrows = con.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM '{path}' "
        "WHERE vec_id < 5 ORDER BY vec_id"
    ).fetchall()
    con.close()
    probes = {
        int(qid): _nearest_centroids([float(x) for x in qv], centroids, 2)
        for qid, qv in qrows
    }
    dists = _sql_centroid_dists(centroids)
    qvals = ", ".join(
        f"({qid}, [{', '.join(str(c) for c in cells)}]::INT[])"
        for qid, cells in sorted(probes.items())
    )
    return f"""
    WITH cells AS (
      SELECT vec_id, embedding, (list_position(d, list_min(d)) - 1) AS cell
      FROM (SELECT vec_id, embedding, {dists} AS d FROM embeddings)),
    q AS (
      SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qv, p.qcells
      FROM (VALUES {qvals}) p(qid, qcells)
      JOIN embeddings e ON e.vec_id = p.qid),
    pairs AS (
      SELECT qid, vec_id,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim,
             list_contains(qcells, cell) AS probed
      FROM cells CROSS JOIN q WHERE vec_id <> qid),
    gt AS (SELECT qid, vec_id FROM
             (SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_sim DESC, vec_id) AS r
              FROM pairs)
           WHERE r <= 10),
    ann AS (SELECT qid, vec_id, 1 AS hit FROM
             (SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_sim DESC, vec_id) AS r
              FROM pairs WHERE probed)
            WHERE r <= 10)
    SELECT qid, round(sum(coalesce(hit, 0)) / 10.0, 2) AS recall_at_10
    FROM gt LEFT JOIN ann USING (qid, vec_id)
    GROUP BY qid ORDER BY qid
    """


oracle("emb_ann_ivf_recall", _ivf_oracle_sql)


@query("emb_ann_ivf_stored")
def emb_ann_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a STORED, partition-pruned index — the 100-TB
    serving path exercised end-to-end at the gate: stamp ``ivf_cell`` at
    ingest, write the index ``partitionBy("cell")``, then answer 5
    queries via :func:`ann_ivf_topk` with ``cell_col`` set, so the probe
    filter is plain partition-column equality and the scan physically
    reads only the n_probe/n_clusters probed directories (pruning pinned
    by test_plan_invariants.test_ivf_stored_cell_scan_prunes_partitions).
    Until r9 this path was certified by pytest only; the recall-shaped
    gate rows recompute the cell per row and scan everything.

    Oracle-gated: the quantizer replays exactly as in
    ``_ivf_oracle_sql`` (same seeded fit, same shifted-score text), the
    probe sets inline as VALUES, and DuckDB re-ranks the probed cells by
    the same 6-dp cosine — top-10 ids and scores match by construction.
    Returns (qid, vec_id, cos_sim): 50 rows."""
    import os
    import tempfile

    from etl_instagram_spark.operators.similarity import (
        ann_ivf_topk,
        fit_ivf_centroids,
        ivf_cell,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids = fit_ivf_centroids(
        emb, n_clusters=8, seed=42, order_col="vec_id"
    )
    # ingest: cell stamped once, index laid out for pruning (overwrite —
    # the write IS the measured ingest cost, and reruns stay hermetic)
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ivf_index_{sf_tag}"
    )
    (
        emb.select("vec_id", "embedding")
        .withColumn("cell", ivf_cell("embedding", centroids))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    index = spark.read.parquet(path)
    qrows = sorted(
        emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )  # 5 query vectors — O(1) driver bytes
    out = None
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        topk = ann_ivf_topk(
            index, qv, centroids, k=10, n_probe=2, cell_col="cell"
        ).withColumn("qid", F.lit(int(r["vec_id"])))
        out = topk if out is None else out.unionByName(topk)
    return out.select("qid", "vec_id", "cos_sim").orderBy(
        "qid", F.col("cos_sim").desc(), "vec_id"
    )


def _ivf_stored_oracle_sql() -> str:
    """DuckDB mirror of emb_ann_ivf_stored (lazy — centroids fit from
    the gate data): assign cells with the shared shifted-score text,
    keep only each query's probed cells, rank by the same rounded
    cosine. A stored cell equals a computed cell by construction, so the
    mirror needs no materialized index."""
    from etl_instagram_spark.operators.similarity import _nearest_centroids

    centroids, con, path = _fit_oracle_centroids(8, seed=42)
    qrows = con.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM '{path}' "
        "WHERE vec_id < 5 ORDER BY vec_id"
    ).fetchall()
    con.close()
    probes = {
        int(qid): _nearest_centroids([float(x) for x in qv], centroids, 2)
        for qid, qv in qrows
    }
    dists = _sql_centroid_dists(centroids)
    qvals = ", ".join(
        f"({qid}, [{', '.join(str(c) for c in cells)}]::INT[])"
        for qid, cells in sorted(probes.items())
    )
    return f"""
    WITH cells AS (
      SELECT vec_id, embedding, (list_position(d, list_min(d)) - 1) AS cell
      FROM (SELECT vec_id, embedding, {dists} AS d FROM embeddings)),
    q AS (
      SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qv, p.qcells
      FROM (VALUES {qvals}) p(qid, qcells)
      JOIN embeddings e ON e.vec_id = p.qid),
    pairs AS (
      SELECT qid, vec_id,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
      FROM cells JOIN q ON list_contains(qcells, cell))
    SELECT qid, vec_id, cos_sim FROM (
      SELECT qid, vec_id, cos_sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, vec_id) AS r
      FROM pairs)
    WHERE r <= 10
    ORDER BY qid, cos_sim DESC, vec_id
    """


oracle("emb_ann_ivf_stored", _ivf_stored_oracle_sql)


_PQ_M, _PQ_K = 8, 16  # shared by the Spark query and its oracle builder


@query("emb_pq_recall")
def emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of product-quantization ADC ranking (m=8 subspaces ×
    k=16 centroids, Jégou et al. 2011) against the exact L2 top-10, for
    5 query vectors in one distributed pass.

    The compressed-domain rank is the MEASURED value: every row is
    scored from its m-int PQ code and the query's lookup table alone
    (``pq_adc_dist`` — m array lookups, fixed-order adds, bit-identical
    on both engines since the LUT floats are Python-computed literals);
    the raw embedding feeds only the ground-truth side. Codebooks are
    deterministic (sort-before-sample, ``pq_codebooks_from_sample``), so
    ``_pq_oracle_sql`` refits identical literals and replays encode →
    ADC → rank in DuckDB."""
    from pyspark.sql import Window

    from etl_instagram_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_adc_dist,
        pq_code,
        pq_lut,
    )

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    cbs = fit_pq_codebooks(
        emb, m=_PQ_M, k=_PQ_K, seed=42, order_col="vec_id"
    )
    qrows = sorted(
        emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )  # 5 rows — O(1) driver bytes, broadcast back as the query side
    q = spark.createDataFrame(
        [
            (
                int(r["vec_id"]),
                [float(x) for x in r["embedding"]],
                pq_lut([float(x) for x in r["embedding"]], cbs),
            )
            for r in qrows
        ],
        "qid long, qv array<double>, lut array<double>",
    )
    # pin the encoded corpus BEFORE the query cross-join: the encode
    # expression (m·k interpreted HOF aggregates per row) must evaluate
    # once per corpus row, not once per (row × query) pair
    coded = emb.withColumn("code", pq_code("embedding", cbs)).localCheckpoint(
        eager=True
    )
    v = _as_double(F.col("embedding"))
    l2sq = F.aggregate(
        F.zip_with(v, F.col("qv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(F.sqrt(l2sq), 6).alias("dist"),
            pq_adc_dist(F.col("code"), F.col("lut"), _PQ_M, _PQ_K).alias("adc"),
        )
        .localCheckpoint(eager=True)  # one evaluation of the encode chain
    )
    w_gt = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("vec_id"))
    w_adc = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("vec_id"))
    gt = (
        pairs.withColumn("r", F.row_number().over(w_gt))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
    )
    ann = (
        pairs.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id", F.lit(1).alias("hit"))
    )
    return (
        gt.join(ann, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0, 2).alias(
                "recall_at_10"
            )
        )
        .orderBy("qid")
    )


def _pq_oracle_sql() -> str:
    """DuckDB mirror of emb_pq_recall (lazy — codebooks and LUTs are fit
    from the gate data through the same ``pq_codebooks_from_sample`` /
    ``pq_lut`` code the Spark side runs, then inlined as literals).
    Per-subspace encode replays the SAME ``shifted_score_sql`` text as
    Spark's ``pq_code`` (only the element accessor differs), so both
    engines rank by bit-identical doubles and the code assignment agrees
    by construction on any data. The ADC sum indexes the same LUT
    literals left-to-right, so it is bit-identical too."""
    import duckdb
    import numpy as np

    from etl_instagram_spark.operators.similarity import (
        pq_codebooks_from_sample,
        pq_lut,
    )

    path = oracle_parquet("embeddings")
    con = duckdb.connect()
    sample = con.sql(
        f"SELECT embedding::DOUBLE[] AS v FROM '{path}' "
        "WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    cbs = pq_codebooks_from_sample(
        np.asarray([r[0] for r in sample], dtype=np.float64), m=_PQ_M, k=_PQ_K, seed=42
    )
    qrows = con.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM '{path}' "
        "WHERE vec_id < 5 ORDER BY vec_id"
    ).fetchall()
    con.close()
    from etl_instagram_spark.operators.similarity import shifted_score_sql

    def elem(i: int) -> str:
        return f"CAST(embedding[{i}] AS DOUBLE)"

    ds = len(cbs[0][0])
    sub_dists = []
    for j, book in enumerate(cbs):
        arr = ", ".join(
            shifted_score_sql(elem, c, offset=j * ds) for c in book
        )
        sub_dists.append(f"[{arr}] AS d{j}")
    code_cols = ", ".join(
        f"(list_position(d{j}, list_min(d{j})) - 1) AS c{j}" for j in range(_PQ_M)
    )
    adc = " + ".join(f"lut[{j * _PQ_K} + c{j} + 1]" for j in range(_PQ_M))
    qvals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            int(qid),
            ", ".join(repr(float(x)) for x in pq_lut([float(v) for v in qv], cbs)),
        )
        for qid, qv in qrows
    )
    return f"""
    WITH sub AS (SELECT vec_id, embedding, {", ".join(sub_dists)} FROM embeddings),
    codes AS (SELECT vec_id, embedding, {code_cols} FROM sub),
    q AS (
      SELECT p.qid, e.embedding::DOUBLE[] AS qv, p.lut
      FROM (VALUES {qvals}) p(qid, lut)
      JOIN embeddings e ON e.vec_id = p.qid),
    pairs AS (
      SELECT qid, vec_id,
             round(list_distance(embedding::DOUBLE[], qv), 6) AS dist,
             {adc} AS adc
      FROM codes CROSS JOIN q WHERE vec_id <> qid),
    gt AS (SELECT qid, vec_id FROM
             (SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY dist ASC, vec_id) AS r
              FROM pairs)
           WHERE r <= 10),
    ann AS (SELECT qid, vec_id, 1 AS hit FROM
             (SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY adc ASC, vec_id) AS r
              FROM pairs)
            WHERE r <= 10)
    SELECT qid, round(sum(coalesce(hit, 0)) / 10.0, 2) AS recall_at_10
    FROM gt LEFT JOIN ann USING (qid, vec_id)
    GROUP BY qid ORDER BY qid
    """


oracle("emb_pq_recall", _pq_oracle_sql)


# ---------------------------------------------------------------------------
# documents ⋈ embeddings: cross-modal quality/label profile
# ---------------------------------------------------------------------------


@query("docs_emb_crossmodal")
def docs_emb_crossmodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the text and vector modalities (doc_id = vec_id): per
    embedding label, doc count, mean text-quality score, mean vector
    norm. The canonical training-data audit — 'are low-quality docs
    clustered in embedding space?'. Equi-join on the id; at scale both
    tables are bucketed by id so the join is co-located."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    joined = docs.withColumn("q", T.quality_score(F.col("text"))).join(
        emb.withColumn("nrm", F.sqrt(dot)), docs["doc_id"] == emb["vec_id"]
    )
    return (
        joined.groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            # q is a 4dp-rounded score: recover the exact grid value with
            # a DECIMAL cast and sum exactly, so the re-rounded mean can't
            # sit on a summation-order tie (the docs_pack_cumsum class);
            # nrm (a sqrt) is not grid-aligned, so a tie there has
            # measure zero and plain avg is fine
            F.round(
                F.sum(F.col("q").cast("decimal(14,4)")).cast("double") / F.count("*"),
                4,
            ).alias("avg_quality"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


oracle(
    "docs_emb_crossmodal",
    f"""
    WITH dq AS (
      SELECT doc_id, q FROM (
        SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents
      ) t CROSS JOIN LATERAL (SELECT {_SQL_QUALITY} AS q) s),
    en AS (
      SELECT vec_id, label,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings)
    SELECT label,
           count(*) AS n_docs,
           round(CAST(sum(CAST(q AS DECIMAL(14,4))) AS DOUBLE) / count(*), 4)
             AS avg_quality,
           round(avg(nrm), 4) AS avg_norm
    FROM dq JOIN en ON dq.doc_id = en.vec_id
    GROUP BY label ORDER BY label
    """,
)


# ---------------------------------------------------------------------------
# embeddings: kNN self-join recall (all-rows ANN vs brute force)
# ---------------------------------------------------------------------------

# subset cap keeps the exact side O(cap²) at every SF — the gate measures
# recall semantics, not brute-force throughput
_KNN_JOIN_CAP = 200


@query("emb_knn_join_recall")
def emb_knn_join_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of operators/similarity.knn_self_join (top-k neighbors
    for EVERY row via multi-probe bucket equi-join) against the
    brute-force self-join, at probe radii Hamming ≤ {1, 2}, over the
    vec_id < 200 subcorpus. Totals are integer hit counts (no float
    accumulation ordering), recall derived from one division of the
    totals; wider probing must never score lower. The oracle replays
    both sides — buckets from the same hyperplane constants, Hamming
    probe, rounded-cosine windows — entirely in SQL."""
    from etl_instagram_spark.operators.similarity import (
        knn_self_join,
        knn_self_join_exact,
    )

    emb = (
        _spread(spark, _t(spark, sf_dir, "embeddings"))
        .filter(F.col("vec_id") < _KNN_JOIN_CAP)
        .withColumn("bucket", _bucket_col())
        # pin the bucketed subcorpus (O(cap) rows): THREE branches read
        # it (the exact ground-truth self-join and both probe radii),
        # and each otherwise re-evaluates the bits×dim hyperplane
        # projection AND re-analyzes its expression tree per branch —
        # at this row count the query is plan/overhead-bound (r19)
        .localCheckpoint(eager=True)
    )
    gt = knn_self_join_exact(emb.select("vec_id", "embedding"), k=10).select(
        "vec_id", "neighbor_id"
    )
    radii = spark.range(1, 3).select(F.col("id").cast("int").alias("probe_hamming"))
    gt = gt.crossJoin(F.broadcast(radii))
    ann = None
    for r in (1, 2):
        part = knn_self_join(
            emb,
            k=10,
            bits=HYPERPLANE_BITS,
            multi_probe_hamming=r,
            bucket_col="bucket",
        ).select(
            "vec_id",
            "neighbor_id",
            F.lit(r).alias("probe_hamming"),
            F.lit(1).alias("hit"),
        )
        ann = part if ann is None else ann.unionByName(part)
    return (
        gt.join(ann, ["vec_id", "neighbor_id", "probe_hamming"], "left")
        .groupBy("probe_hamming")
        .agg(
            F.count(F.lit(1)).alias("n_truth_pairs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("total_hits"),
        )
        .select(
            "probe_hamming",
            "n_truth_pairs",
            "total_hits",
            F.round(F.col("total_hits") / F.col("n_truth_pairs"), 4).alias(
                "recall_at_10"
            ),
        )
        .orderBy("probe_hamming")
    )


oracle(
    "emb_knn_join_recall",
    f"""
    WITH b AS (SELECT vec_id, embedding, {_sql_bucket()} AS bucket
               FROM embeddings WHERE vec_id < {_KNN_JOIN_CAP}),
         radii AS (SELECT unnest([1, 2]) AS probe_hamming),
         pairs AS (
           SELECT a.vec_id, bb.vec_id AS neighbor_id,
                  round(list_dot_product(a.embedding::DOUBLE[], bb.embedding::DOUBLE[])
                        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(bb.embedding::DOUBLE[], bb.embedding::DOUBLE[]))),
                        6) AS cos_sim,
                  bit_count(xor(a.bucket, bb.bucket)) AS ham
           FROM b a JOIN b bb ON a.vec_id <> bb.vec_id),
         gt AS (SELECT vec_id, probe_hamming, neighbor_id FROM
                  (SELECT vec_id, neighbor_id,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY cos_sim DESC, neighbor_id) AS r
                   FROM pairs) CROSS JOIN radii WHERE r <= 10),
         ann AS (SELECT vec_id, probe_hamming, neighbor_id, 1 AS hit FROM
                  (SELECT vec_id, probe_hamming, neighbor_id,
                          row_number() OVER (PARTITION BY vec_id, probe_hamming
                                             ORDER BY cos_sim DESC, neighbor_id) AS r
                   FROM pairs CROSS JOIN radii WHERE ham <= probe_hamming)
                 WHERE r <= 10)
    SELECT probe_hamming,
           count(*) AS n_truth_pairs,
           CAST(sum(coalesce(hit, 0)) AS BIGINT) AS total_hits,
           round(CAST(sum(coalesce(hit, 0)) AS BIGINT)
                 / count(*)::DOUBLE, 4) AS recall_at_10
    FROM gt LEFT JOIN ann USING (vec_id, probe_hamming, neighbor_id)
    GROUP BY probe_hamming ORDER BY probe_hamming
    """,
)


# ---------------------------------------------------------------------------
# distributed k-means (operators/clustering.py)
# ---------------------------------------------------------------------------

_KMEANS_K, _KMEANS_ITERS = 8, 2


@query("emb_kmeans_cells")
def emb_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means end to end (operators/clustering.py): seeded
    sample init → 2 full-data Lloyd's iterations → per-cell (n, sse)
    cost profile. Every stage is a deterministic function of the data
    (sorted init sample; per-element 6dp rounding + exact DECIMAL sums;
    driver-side float(sum)/n division), so the DuckDB oracle replays
    init AND both refinement iterations with its own engine doing all
    the data math and lands on bit-identical centroids, assignments,
    and cost — the gate's first certified ITERATIVE algorithm (the
    other fit-from-data oracles replay one fit, not a convergence
    loop). Scale: each iteration is one scan whose map-side partial
    aggregation collapses every partition to ≤ k rows of (count,
    per-dim decimal sums) before the shuffle."""
    from etl_instagram_spark.operators.clustering import (
        kmeans_cost,
        refine_centroids,
    )
    from etl_instagram_spark.operators.similarity import fit_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    init = fit_ivf_centroids(
        emb, n_clusters=_KMEANS_K, seed=42, order_col="vec_id"
    )
    cents = refine_centroids(emb, init, n_iter=_KMEANS_ITERS)
    return kmeans_cost(emb, cents)


def _kmeans_oracle_sql() -> str:
    """DuckDB mirror of emb_kmeans_cells, built lazily (the centroids
    are FIT from the gate data). Init reads the same ORDER BY vec_id
    LIMIT 4096 sample through DuckDB and runs the identical seeded
    ``lloyd_kmeans``; each refinement iteration computes per-cell counts
    and exact long micro-unit element sums IN DuckDB — the same
    ``floor(x·10^QUANT_DP)::BIGINT`` quantization (floor stays pure codegen on the Spark side — round(double) allocates a BigDecimal per value) the Spark side
    aggregates, with assignment via the shared ``shifted_score_sql``
    text so both engines rank bit-identical doubles — and applies the
    same Python ``(sum/scale)/n`` update the Spark driver does; the
    returned SQL profiles the final centroids' cells with the identical
    micro-unit SSE sum the Spark side publishes."""
    import duckdb
    import numpy as np

    from etl_instagram_spark.operators.clustering import QUANT_DP
    from etl_instagram_spark.operators.similarity import lloyd_kmeans

    scale = 10**QUANT_DP
    path = oracle_parquet("embeddings")
    con = duckdb.connect()
    sample = con.sql(
        f"SELECT embedding::DOUBLE[] FROM '{path}' "
        "WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    cur = lloyd_kmeans(
        np.asarray([r[0] for r in sample], dtype=np.float64),
        _KMEANS_K,
        seed=42,
    )
    cur = [[float(x) for x in c] for c in cur]
    dim = len(cur[0])
    sums = ", ".join(
        f"sum(CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * {scale}.0)"
        f" AS BIGINT)) AS s{d}"
        for d in range(dim)
    )
    for _ in range(_KMEANS_ITERS):
        dists = _sql_centroid_dists(cur)
        rows = con.sql(
            f"SELECT (list_position(d, list_min(d)) - 1) AS cell,"
            f"       count(*) AS n, {sums} "
            f"FROM (SELECT {dists} AS d, embedding FROM '{path}' "
            f"      WHERE embedding IS NOT NULL) t "
            f"GROUP BY cell"
        ).fetchall()
        for r in rows:
            cell, n = int(r[0]), int(r[1])
            if n:
                cur[cell] = [(int(r[2 + d]) / scale) / n for d in range(dim)]
    con.close()
    dists = _sql_centroid_dists(cur)
    sumsq = " + ".join(
        f"CAST(embedding[{d + 1}] AS DOUBLE) * CAST(embedding[{d + 1}] AS DOUBLE)"
        for d in range(dim)
    )
    return f"""
    SELECT cell, count(*) AS n,
           round(CAST(sum(CAST(floor(sse_row * {scale}.0) AS BIGINT))
                      AS DOUBLE) / {scale}.0, 4) AS sse
    FROM (SELECT (list_position(d, list_min(d)) - 1) AS cell,
                 (list_min(d) + ({sumsq})) AS sse_row
          FROM (SELECT {dists} AS d, embedding
                FROM '{path}' WHERE embedding IS NOT NULL) t) u
    GROUP BY cell ORDER BY cell
    """


oracle("emb_kmeans_cells", _kmeans_oracle_sql)
