"""Embeddings/ANN non-gate rows, each registered with ``@query(name,
gate=False)`` beside its body and paired with an ``oracle(name, sql)``
mirror (checked by tests/test_rotated_parity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.q_emb import _bucket_col, _sql_ann_lsh_topk
from etl_instagram_spark.plans.q_shared import _as_double, _dot, _spread
from etl_instagram_spark.plans.queries import _t, query


@query("emb_ann_lsh_topk", gate=False)
def emb_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: top-5 cosine neighbors of vec_id=0 among vectors in
    its LSH bucket (the bucket-filtered path of emb_ann_recall and
    emb_knn_join_recall)."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).withColumn(
        "bucket", _bucket_col()
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("qv"), F.col("bucket").alias("qbucket")
    )
    v = _as_double(F.col("embedding"))
    cos = _dot(v, F.col("qv")) / (
        F.sqrt(_dot(v, v)) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != 0))
        .select("vec_id", "label", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(5)
    )


oracle("emb_ann_lsh_topk", _sql_ann_lsh_topk())


@query("emb_int8_quantization", gate=False)
def _emb_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization
    (operators/similarity.quantize_embeddings) — the vector-store
    compression step between raw embeddings and the PQ/IVFADC index
    faces. Codes and scales are exact across engines by construction
    (correctly-rounded IEEE ops on identical parquet doubles, both
    engines round ties away from zero — no transcendental anywhere),
    so the per-vector profile (scale, code checksum/extrema, and the
    6-place reconstruction cosine via the pinned left-fold dot)
    replays bit-for-bit in DuckDB."""
    from etl_instagram_spark.operators.similarity import (
        dequantize_col,
        quantize_embeddings,
    )
    emb = _t(spark, sf_dir, "embeddings")
    qz = quantize_embeddings(emb, "embedding", "vec_id")
    joined = qz.join(
        emb.select("vec_id", _as_double(F.col("embedding")).alias("v")),
        "vec_id",
    )
    d = dequantize_col(F.col("q"), F.col("scale"))
    # zero-norm guard (r17, ADVICE): 0/0 is NULL in Spark (ANSI off) but
    # NaN in DuckDB — pin both engines to NULL for zero/empty vectors
    cos = F.when(F.col("scale") == 0.0, F.lit(None)).otherwise(
        _dot(d, F.col("v"))
        / (F.sqrt(_dot(d, d)) * F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    return joined.select(
        "vec_id",
        "scale",
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.round(cos, 6).alias("recon_cos"),
    ).orderBy("vec_id")


def _sql_emb_int8_quantization() -> str:
    from etl_instagram_spark.operators.similarity import (
        dequantize_sql,
        quantize_sql,
    )

    scale, q = quantize_sql("vd")
    deq = dequantize_sql("q", "scale")
    return f"""
    WITH vv AS (SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS vd
                FROM embeddings),
    qz AS (SELECT vec_id, vd, {scale} AS scale, {q} AS q FROM vv),
    dq AS (SELECT vec_id, vd, scale, q, {deq} AS d FROM qz)
    SELECT vec_id, scale,
           (list_sum(q))::BIGINT AS q_sum,
           list_min(q) AS q_min,
           list_max(q) AS q_max,
           CASE WHEN scale = 0.0 THEN NULL
                ELSE round(list_dot_product(d, vd)
                           / (sqrt(list_dot_product(d, d))
                              * sqrt(list_dot_product(vd, vd))), 6)
           END AS recon_cos
    FROM dq
    ORDER BY vec_id
    """


oracle("emb_int8_quantization", _sql_emb_int8_quantization)


@query("emb_quantized_ann_rerank", gate=False)
def _emb_quantized_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed quantized-ANN serving path an LLM
    vector store actually runs — int8-quantize the corpus (r16
    quantize_embeddings), assign IVF cells and score candidates on the
    DEQUANTIZED approximations (the store never touches the floats),
    shortlist top-30 per query, then re-rank the shortlist EXACTLY on
    the float vectors — with recall@10 vs the exact ground truth
    measured for BOTH the quantized path and the float-IVF path on the
    same probe sets, so the artifact isolates the quantization loss
    from the probe loss per query.

    Deterministic end-to-end: codes/scales are exact across engines
    (quantize_embeddings), dequantization is pinned rational arithmetic,
    cell assignment ranks the shared shifted-score text over those
    exact doubles, and every ranking is round-6 cosine with vec_id
    tie-breaks — the emb_ann_ivf_stored discipline, so all five rows
    replay bit-for-bit in DuckDB.

    Scale: quantization is a scan-stage map (the 4× memory cut is WHY
    the store holds codes); the probe scan touches n_probe/n_clusters
    of the corpus; the exact re-rank touches 30 float rows per query —
    the only stage that reads uncompressed vectors."""
    from pyspark.sql import Window

    from etl_instagram_spark.operators.similarity import (
        _nearest_centroids,
        dequantize_col,
        fit_ivf_centroids,
        ivf_cell,
        quantize_embeddings,
    )
    def _cos(a, b):
        return F.round(
            _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))), 6
        )

    emb = _t(spark, sf_dir, "embeddings")
    centroids = fit_ivf_centroids(
        emb, n_clusters=8, seed=42, order_col="vec_id"
    )
    qrows = sorted(
        emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )  # 5 query vectors — O(1) driver bytes
    q = F.broadcast(
        spark.createDataFrame(
            [
                (
                    int(r["vec_id"]),
                    [float(x) for x in r["embedding"]],
                    _nearest_centroids(
                        [float(x) for x in r["embedding"]], centroids, 2
                    ),
                )
                for r in qrows
            ],
            "qid long, qv array<double>, qcells array<int>",
        )
    )
    floats = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).localCheckpoint(eager=False)

    # the quantized store: codes + scale only; cells assigned on the
    # dequantized approximation (what a codes-only index can see).
    # PINNED (r18): without the checkpoint, Catalyst's projection
    # collapse inlines dq's transform (which inlines the quantize
    # expression, which inlines the scale aggregate) into every one of
    # ivf_cell's 8 × dim unrolled element_at terms AND both cosine
    # legs — an exponentially-inlined chain recomputed per downstream
    # stage (measured minutes at sf0.01; the r18 scale smoke surfaced
    # it). Materializing once is also the honest production shape: a
    # vector store PERSISTS its codes + cells.
    store = (
        quantize_embeddings(emb, "embedding", "vec_id")
        .withColumn("dq", dequantize_col(F.col("q"), F.col("scale")))
        .withColumn("cell", ivf_cell("dq", centroids))
        .select("vec_id", "dq", "cell")
        .localCheckpoint(eager=False)
    )
    cand_q = store.join(q, F.array_contains(F.col("qcells"), F.col("cell")))
    w_apx = Window.partitionBy("qid").orderBy(
        F.col("acos").desc(), F.col("vec_id")
    )
    shortlist = (
        cand_q.withColumn("acos", _cos(F.col("dq"), F.col("qv")))
        .withColumn("r", F.row_number().over(w_apx))
        .filter(F.col("r") <= 30)
        .select("qid", "vec_id", "qv")
    )
    w_ex = Window.partitionBy("qid").orderBy(
        F.col("ecos").desc(), F.col("vec_id")
    )
    ann_q = (
        shortlist.join(floats, "vec_id")
        .withColumn("ecos", _cos(F.col("v"), F.col("qv")))
        .withColumn("r", F.row_number().over(w_ex))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
    )
    n_cand = cand_q.groupBy("qid").agg(F.count("*").alias("n_cand_quant"))

    # the float-IVF path on the same probe sets (isolates probe loss)
    cells_f = emb.withColumn("cell", ivf_cell("embedding", centroids))
    ann_f = (
        cells_f.join(q, F.array_contains(F.col("qcells"), F.col("cell")))
        .withColumn(
            "ecos", _cos(_as_double(F.col("embedding")), F.col("qv"))
        )
        .withColumn("r", F.row_number().over(w_ex))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
    )

    # exact ground truth over the full corpus
    gt = (
        floats.crossJoin(q)
        .withColumn("ecos", _cos(F.col("v"), F.col("qv")))
        .withColumn("r", F.row_number().over(w_ex))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
        .localCheckpoint(eager=False)  # feeds both recall joins once
    )
    # r18 (ADVICE): anchor on the query frame so a query whose probed
    # cells yield ZERO candidates still reports a row (n_cand_quant 0,
    # recalls 0.0) instead of vanishing, and divide by the ACTUAL
    # per-query ground-truth count — on a corpus smaller than k the
    # literal-10 denominator understated recall silently
    gt_n = gt.groupBy("qid").agg(F.count("*").alias("n_gt"))
    hits_q = (
        gt.join(ann_q, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("h_q"))
    )
    hits_f = (
        gt.join(ann_f, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("h_f"))
    )
    return (
        q.select("qid")
        .join(n_cand, "qid", "left")
        .join(gt_n, "qid", "left")
        .join(hits_q, "qid", "left")
        .join(hits_f, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_cand_quant", F.lit(0)).alias("n_cand_quant"),
            F.coalesce(
                F.col("h_q") / F.col("n_gt"), F.lit(0.0)
            ).alias("recall_quant"),
            F.coalesce(
                F.col("h_f") / F.col("n_gt"), F.lit(0.0)
            ).alias("recall_float"),
        )
        .orderBy("qid")
    )


def _sql_emb_quantized_ann_rerank() -> str:
    """DuckDB mirror (lazy — centroids fit from the gate data): the same
    quantize → dequantize → cell-argmin → probe → shortlist-30 →
    exact-re-rank chain, with the quantized path's cells ranked by the
    shared shifted-score text over the DEQUANTIZED list and both recall
    joins replayed against the same exact ground truth."""
    from etl_instagram_spark.operators.similarity import (
        _nearest_centroids,
        dequantize_sql,
        quantize_sql,
        shifted_score_sql,
    )
    from etl_instagram_spark.plans.q_emb import (
        _fit_oracle_centroids,
        _sql_centroid_dists,
    )

    centroids, con, path = _fit_oracle_centroids(8, seed=42)
    qrows = con.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM '{path}' "
        "WHERE vec_id < 5 ORDER BY vec_id"
    ).fetchall()
    con.close()
    qvals = ", ".join(
        f"({int(qid)}, [{', '.join(repr(float(x)) for x in qv)}]::DOUBLE[], "
        f"[{', '.join(str(c) for c in _nearest_centroids([float(x) for x in qv], centroids, 2))}]::INT[])"
        for qid, qv in qrows
    )
    scale, qexpr = quantize_sql("vd")
    deq = dequantize_sql("q", "scale")

    def elem_d(i: int) -> str:
        return f"d[{i}]"

    dists_q = "[" + ", ".join(shifted_score_sql(elem_d, c) for c in centroids) + "]"
    dists_f = _sql_centroid_dists(centroids)
    cos = (
        "round(list_dot_product({a}, qv) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product(qv, qv))), 6)"
    )
    return f"""
    WITH vv AS (SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS vd
                FROM embeddings),
    qz AS (SELECT vec_id, vd, {scale} AS scale, {qexpr} AS q FROM vv),
    dq AS (SELECT vec_id, vd, {deq} AS d FROM qz),
    store AS (SELECT vec_id, d,
                     (list_position(dd, list_min(dd)) - 1) AS cell
              FROM (SELECT vec_id, d, {dists_q} AS dd FROM dq)),
    cells_f AS (SELECT vec_id, embedding,
                       (list_position(dd, list_min(dd)) - 1) AS cell
                FROM (SELECT vec_id, embedding, {dists_f} AS dd
                      FROM embeddings)),
    qs AS (SELECT * FROM (VALUES {qvals}) t(qid, qv, qcells)),
    cand_q AS (SELECT qid, qv, s.vec_id, s.d
               FROM store s JOIN qs ON list_contains(qcells, s.cell)),
    shortlist AS (SELECT qid, qv, vec_id FROM (
        SELECT qid, qv, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {cos.format(a='d')} DESC,
                                           vec_id) AS r
        FROM cand_q) WHERE r <= 30),
    ann_q AS (SELECT qid, vec_id FROM (
        SELECT s.qid, s.vec_id,
               row_number() OVER (PARTITION BY s.qid
                                  ORDER BY {cos.format(a='vd')} DESC,
                                           s.vec_id) AS r
        FROM shortlist s JOIN vv ON vv.vec_id = s.vec_id) WHERE r <= 10),
    ann_f AS (SELECT qid, vec_id FROM (
        SELECT qid, c.vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {cos.format(a='list_transform(c.embedding, x -> x::DOUBLE)')} DESC,
                                           c.vec_id) AS r
        FROM cells_f c JOIN qs ON list_contains(qcells, c.cell)) WHERE r <= 10),
    gt AS (SELECT qid, vec_id FROM (
        SELECT qid, vv.vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {cos.format(a='vd')} DESC,
                                           vv.vec_id) AS r
        FROM vv CROSS JOIN qs) WHERE r <= 10),
    n_cand AS (SELECT qid, count(*) AS n_cand_quant FROM cand_q GROUP BY qid),
    gtn AS (SELECT qid, count(*) AS n_gt FROM gt GROUP BY qid),
    hq AS (SELECT g.qid, count(*) AS h_q
           FROM gt g JOIN ann_q a ON a.qid = g.qid AND a.vec_id = g.vec_id
           GROUP BY g.qid),
    hf AS (SELECT g.qid, count(*) AS h_f
           FROM gt g JOIN ann_f a ON a.qid = g.qid AND a.vec_id = g.vec_id
           GROUP BY g.qid)
    SELECT qs.qid,
           coalesce(n.n_cand_quant, 0) AS n_cand_quant,
           coalesce(hq.h_q::DOUBLE / gtn.n_gt, 0.0::DOUBLE) AS recall_quant,
           coalesce(hf.h_f::DOUBLE / gtn.n_gt, 0.0::DOUBLE) AS recall_float
    FROM qs LEFT JOIN n_cand n ON n.qid = qs.qid
            LEFT JOIN gtn ON gtn.qid = qs.qid
            LEFT JOIN hq ON hq.qid = qs.qid
            LEFT JOIN hf ON hf.qid = qs.qid
    ORDER BY qs.qid
    """


oracle("emb_quantized_ann_rerank", _sql_emb_quantized_ann_rerank)
