"""Embedding similarity-search operators: brute-force cosine top-k and
hyperplane-LSH bucketed ANN.

Engine extension for training-data pipelines (SURVEY §7 step 11); the
reference has no vector surface. Everything is built-in array expressions
(``zip_with`` + ``aggregate``) — JVM-side, no UDF, no shuffle of the
embedding column.

Scale design (100 TB):
- ``cosine_topk``: broadcast ONE query vector, scan + TakeOrderedAndProject.
  Linear scan is the correct baseline; it parallelizes perfectly and is
  the recall=1.0 oracle for ANN variants.
- ``ann_lsh_topk``: prune the scan to the query's hyperplane bucket
  (~n/2^bits rows). At scale the table is written partitioned by bucket
  so the filter becomes partition pruning — the scan never reads the
  other buckets. Multi-probe (probe Hamming-adjacent buckets) raises
  recall without changing the plan shape.
"""

from __future__ import annotations

import hashlib

import pandas as pd  # module-level so pandas_udf type hints resolve under
# postponed annotations (get_type_hints reads the defining module globals)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential fold dot product over two array<double> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm (0/0 is
    NaN, which Spark orders ABOVE every double — an unguarded NaN would
    outrank every real score in a top-k and pass any >= threshold)."""
    norm_prod = F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))
    return F.when(norm_prod > 0, dot(a, b) / norm_prod).otherwise(F.lit(0.0))


def _query_lit(query_vec: list[float]) -> Column:
    # ONE array<double> literal (a single py4j round-trip) — the
    # per-element F.array(*lits) form paid one py4j call per component,
    # which dominated the Python-side build time of every serving-path
    # query (~0.1 s per 64-dim query vector, r19 profile)
    return F.lit([float(x) for x in query_vec])


def cosine_topk(
    df: DataFrame, query_vec: list[float], k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Brute-force top-k by cosine similarity to a literal query vector."""
    v = as_double(F.col(vec_col))
    q = _query_lit(query_vec)
    return (
        df.select(id_col, F.round(cosine(v, q), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def hyperplane_signs(bits: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 parity (no PRNG state)."""
    return [
        [
            1 if int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(bits)
    ]


def lsh_bucket(vec_col: str, planes: list[list[int]]) -> Column:
    """Hyperplane-LSH bucket id: bit j = sign(v · plane_j).

    The planes are ±1-valued, so each dot product unrolls to a SIGNED
    SUM of element_at terms — one SQL-string expression that stays in
    whole-stage codegen (the zip_with/aggregate fold it replaces
    evaluates interpreted) and is BIT-identical to the fold: ±1.0
    multiplies are exact and the addition order is unchanged, so every
    stored bucket and oracle mirror is unaffected."""
    terms = []
    for j, plane in enumerate(planes):
        signed = " + ".join(
            "({s}CAST(try_element_at(`{v}`, {i}) AS DOUBLE))".format(
                s="-" if x < 0 else "", v=vec_col, i=i + 1
            )
            for i, x in enumerate(plane)
        )
        terms.append(f"IF(({signed}) >= 0.0D, {1 << j}, 0)")
    return F.expr("(" + " + ".join(terms) + ")")


def _bucket_of(query_vec: list[float], planes: list[list[int]]) -> int:
    b = 0
    for j, plane in enumerate(planes):
        if sum(x * w for x, w in zip(query_vec, plane)) >= 0:
            b |= 1 << j
    return b


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multi_probe_hamming: int = 0,
    bucket_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: restrict the scan to the query's LSH bucket
    (plus Hamming-adjacent buckets when multi_probe_hamming > 0), then
    exact cosine rank within the candidates.

    ``bucket_col`` names a STORED bucket column (written by
    ``lsh_bucket`` at ingest, ideally the table's partition column) —
    then the probe filter lands on plain column equality, which the
    parquet source turns into partition pruning / row-group skipping:
    the scan physically never reads the other 2^bits − |probes| buckets.
    Without it the bucket is recomputed per row from the vector, which
    is correct but scans everything (the small-table / ad-hoc path).
    """
    planes = hyperplane_signs(bits, len(query_vec))
    qb = _bucket_of(query_vec, planes)
    if multi_probe_hamming > 0:
        probes = [b for b in range(1 << bits) if bin(b ^ qb).count("1") <= multi_probe_hamming]
    else:
        probes = [qb]
    v = as_double(F.col(vec_col))
    q = _query_lit(query_vec)
    bucket = F.col(bucket_col) if bucket_col else lsh_bucket(vec_col, planes)
    return (
        df.filter(bucket.isin(probes))
        .select(id_col, F.round(cosine(v, q), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def fit_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    max_fit_points: int | None = 4096,
    max_iter: int = 8,
    order_col: str | None = None,
) -> list[list[float]]:
    """Fit IVF coarse centroids with seeded NumPy Lloyd's on the driver.

    The quantizer is fit on a BOUNDED sample (``max_fit_points``,
    default 4096 × dim doubles ≈ 2 MB) collected to the driver and
    clustered with seeded NumPy Lloyd's (k-means++ init): a coarse
    quantizer only needs rough cluster geometry, and the standard IVF
    recipe (FAISS trains on ~max(10k, 40·k) points) fits on a sample
    once and reuses the centroids across queries. A distributed iterative
    fit (pyspark.ml.KMeans) here is the wrong shape at BOTH ends of the
    scale: at 100 TB it is a multi-pass job over every vector for no
    recall gain, and on a hot path it pays per-iteration job-scheduling
    overhead to cluster kilobytes. Only the centroid list — O(n_clusters
    · dim), driver-sized by design — leaves this function; cell
    assignment and probing stay fully distributed column expressions.

    ``order_col`` sorts the sample before the limit (TakeOrdered —
    still one bounded job), making the fit a pure function of the DATA
    rather than of partition order: any engine that reads the same rows
    (e.g. the DuckDB oracle mirror) reproduces bit-identical centroids
    via :func:`lloyd_kmeans`. Without it the limit takes whatever rows
    arrive first — fine for quantizer quality, useless for replay."""
    import numpy as np

    base = df.select(
        as_double(F.col(vec_col)).alias("__v"),
        *([F.col(order_col).alias("__o")] if order_col else []),
    ).where(F.col("__v").isNotNull())
    if order_col:
        base = base.orderBy("__o")
    rows = base.select("__v").limit(max_fit_points or (1 << 20)).collect()
    x = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    return lloyd_kmeans(x, n_clusters, seed=seed, max_iter=max_iter)


def lloyd_kmeans(
    x, n_clusters: int, seed: int = 42, max_iter: int = 8
) -> list[list[float]]:
    """Seeded NumPy Lloyd's (k-means++ init) over an (n, dim) float64
    array. Pure function of (x, n_clusters, seed, max_iter) — the DuckDB
    oracle fits the same sample through this exact code so the centroid
    literals it inlines are bit-identical to what the Spark path uses."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    k = min(n_clusters, len(x))
    rng = np.random.RandomState(seed)

    # k-means++ seeding. Distances via ||x||² − 2x·c + ||c||² with a
    # running min against only the NEWEST center per step: O(n·dim) per
    # step and no n×k×dim broadcast temporary (which at the
    # max_fit_points=None bound of 2^20 vectors would be driver-OOM)
    x2 = (x**2).sum(1)

    def _d2_to(c: "np.ndarray") -> "np.ndarray":
        return np.maximum(x2 - 2.0 * (x @ c) + (c**2).sum(), 0.0)

    centers = x[rng.randint(len(x))][None, :]
    best_d2 = _d2_to(centers[0])
    for _ in range(1, k):
        total = best_d2.sum()
        if total <= 0:
            nxt = x[rng.randint(len(x))]
        else:
            nxt = x[rng.choice(len(x), p=best_d2 / total)]
        centers = np.vstack([centers, nxt])
        best_d2 = np.minimum(best_d2, _d2_to(nxt))

    for _ in range(max_iter):
        # ||x - c||² = ||x||² - 2x·c + ||c||² ; the x² term is constant
        # per row, so argmin needs only the cross and center terms
        d2 = (centers**2).sum(1)[None, :] - 2.0 * (x @ centers.T)
        assign = d2.argmin(1)
        moved = False
        for j in range(k):
            members = x[assign == j]
            if len(members):
                nc = members.mean(0)
                if not np.array_equal(nc, centers[j]):
                    centers[j] = nc
                    moved = True
        if not moved:
            break
    return [c.tolist() for c in centers]


def _nearest_centroids(query_vec: list[float], centroids: list[list[float]], n_probe: int) -> list[int]:
    def sqdist(c):
        return sum((x - y) ** 2 for x, y in zip(query_vec, c))

    order = sorted(range(len(centroids)), key=lambda i: sqdist(centroids[i]))
    return order[:n_probe]


def shifted_score_sql(elem, cent, offset: int = 0) -> str:
    """One centroid's shifted-dot score ``‖c‖² − 2·v·c`` as engine-neutral
    SQL text: ``elem(i)`` renders the 1-based vector element ``i`` as an
    engine-specific DOUBLE expression (Spark ``try_element_at``, DuckDB
    ``embedding[i]``). Both :func:`ivf_cell`/:func:`pq_code` and the
    DuckDB oracle mirrors emit THIS function's output, so the scores the
    two engines rank by are bit-identical IEEE doubles (same literals via
    ``repr``, same left-to-right addition order, same ``2.0 *`` scale) —
    cross-engine argmin agreement no longer rests on a data-dependent
    top-2 margin."""
    sc2 = sum(float(x) * float(x) for x in cent)
    dot = " + ".join(
        f"{elem(offset + d + 1)} * CAST({float(cent[d])!r} AS DOUBLE)"
        for d in range(len(cent))
    )
    return f"(CAST({sc2!r} AS DOUBLE) - 2.0 * ({dot}))"


# beyond ~4096 unrolled multiply-add terms (n_clusters·dim) janino's
# codegen of the literal expression exhausts the compiler; the gate's
# quantizers (8×64, 16×4-8 PQ subspaces) sit far below it
_UNROLL_MAX_TERMS = 4096


def _ivf_cell_vectorized(vec_col: str, centroids: list[list[float]]) -> Column:
    """Cell assignment for LARGE quantizers: an Arrow-batched pandas_udf
    computing ``argmin(‖c‖² − 2·V·Cᵀ)`` with one NumPy matmul per batch.
    The centroid matrix (n_clusters·dim doubles — a few MB even at
    n_clusters=4096) ships once per executor in the UDF closure, so at
    scale this is a scan-local map with no join or shuffle, and the
    O(batch·k·dim) arithmetic runs in BLAS instead of a generated-code
    expression janino can no longer compile. NumPy's dot accumulates in
    a different order than the unrolled expression, so exact-tie
    assignments may differ from the small-k codegen path — which is why
    oracle-gated queries keep quantizers under the unroll limit.

    Malformed rows (NULL vector, ragged length, NULL element) yield a
    NULL cell — the same NULL propagation the try_element_at expression
    path produces — instead of np.stack raising, so error behavior does
    not silently flip when a quantizer crosses the unroll limit
    (round-7 advisor finding)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    sc2 = (C * C).sum(axis=1)
    dim = C.shape[1]

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        # expression-path parity: try_element_at reads only indices
        # 1..dim, so longer vectors are fine (extra elements ignored);
        # short/NULL-element vectors NULL-propagate to a NULL cell.
        # Arrow surfaces SQL NULL elements as NaN here, so NaN ≡ NULL
        # (a true-NaN embedding scores NaN on the expression path too —
        # garbage either way, and indistinguishable at this boundary).
        mask = v.map(
            lambda x: x is not None
            and len(x) >= dim
            and not any(e is None or e != e for e in x[:dim])
        )
        out = pd.Series([None] * len(v), dtype="Int32")
        if mask.any():
            m = np.stack(
                [np.asarray(x[:dim], dtype=np.float64) for x in v[mask]]
            )
            scores = sc2[None, :] - 2.0 * (m @ C.T)
            out[mask] = np.argmin(scores, axis=1).astype("int32")
        return out

    return assign(F.col(vec_col))


def ivf_cell(vec_col: str, centroids: list[list[float]]) -> Column:
    """Cell id = argmin squared distance to the centroids — a pure column
    expression over the literal centroid arrays (no model object shipped
    to executors, no UDF).

    Shape matters: the obvious running-argmin when-chain references its
    own accumulated subtree at every step, and Catalyst re-evaluates per
    reference — O(2^n_clusters) distance evaluations per row. Building
    the distance ARRAY evaluates each distance once; array_min +
    array_position then pick the first minimum (same tie-break as the
    chain) at O(n_clusters).

    Scored with the same codegen-friendly shape as :func:`pq_code`:
    one SQL-string expression (no py4j-per-literal cost), unrolled
    element_at multiply-adds (no interpreted higher-order functions),
    and the dot-product identity ``argmin ‖v−c‖² = argmin (‖c‖² −
    2·v·c)`` (the per-row ‖v‖² drops out). The DuckDB oracle mirrors
    emit the SAME :func:`shifted_score_sql` text (only the element
    accessor differs), so both engines rank by bit-identical doubles;
    the per-query oracle hashes pin the agreement.

    The unrolled expression scales to n_clusters·dim ≈ a few thousand
    terms; past :data:`_UNROLL_MAX_TERMS` janino's whole-stage codegen
    blows up compiling it (observed: OOM in buildLocalVariableMap at
    80 cells × 64 dims under a 16g heap), so large quantizers — the
    production regime, where n_clusters grows ~√n — switch to an
    Arrow-batched NumPy matmul (:func:`_ivf_cell_vectorized`). Same
    argmin in exact arithmetic; the tie-break and last-ulp behavior of
    the two paths can differ, which is why the small-k oracle-gated
    queries stay on the codegen path."""
    if len(centroids) * len(centroids[0]) > _UNROLL_MAX_TERMS:
        return _ivf_cell_vectorized(vec_col, centroids)

    def elem(i: int) -> str:
        return f"CAST(try_element_at(`{vec_col}`, {i}) AS DOUBLE)"

    dists = ", ".join(shifted_score_sql(elem, c) for c in centroids)
    # let-binding via transform-over-1-element-array: the k·dim score
    # expression evaluates ONCE per row and the argmin reads the lambda
    # variable — the naive array_position(array(...), array_min(array(
    # ...))) form evaluates the whole score array TWICE (measured 5×
    # slower at k=8·dim=64 on an interpreted projection). Same values,
    # same first-minimum tie-break.
    # r9 A/B (advisor suggestion): a "codegen-native" least() chain over
    # named_struct(score, idx) measured 2.7× slower at k=8 and 3.4× at
    # k=32 on sf0.1 — janino fails to compile the k·dim-term structs
    # (InternalCompilerException → interpreted fallback) AND each struct
    # materializes per comparison. This interpreted-HOF form stays.
    return F.expr(
        f"try_element_at(transform(array(array({dists})), "
        f"a -> CAST(array_position(a, array_min(a)) - 1 AS INT)), 1)"
    )


def ann_ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` cells whose centroids
    are nearest the query, exact cosine rank within the probed cells.

    ``cell_col`` names a STORED cell column (written by
    :func:`ivf_cell` at ingest, ideally the table's partition
    column) — then the probe filter is plain column equality, which the
    parquet source turns into partition pruning / row-group skipping:
    the scan physically reads n_probe/n_clusters of the data and never
    touches the other cells. Without it the cell is recomputed per row
    from the vector (correct but scans everything — the small-table /
    ad-hoc path). Same asymmetry-closing knob as ``bucket_col`` on
    :func:`ann_lsh_topk`; raising n_probe trades scan for recall with
    the same plan shape either way."""
    probes = _nearest_centroids(query_vec, centroids, n_probe)
    v = as_double(F.col(vec_col))
    q = _query_lit(query_vec)
    cell = F.col(cell_col) if cell_col else ivf_cell(vec_col, centroids)
    return (
        df.filter(cell.isin(probes))
        .select(id_col, F.round(cosine(v, q), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_self_join(
    df: DataFrame,
    k: int = 10,
    bits: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multi_probe_hamming: int = 1,
    bucket_col: str | None = None,
) -> DataFrame:
    """Approximate k nearest neighbors for EVERY row (the kNN self-join
    under clustering, semantic dedup, and diversity filtering) — the
    all-rows generalization of ``ann_lsh_topk``'s one-query probe.

    Shape: each row probes its own hyperplane bucket plus all buckets
    within ``multi_probe_hamming`` bit flips (left side exploded by the
    Σ C(bits, i) probe masks — a constant), candidates come from a
    bucket EQUI-join (never an all-pairs product), exact cosine ranks
    the candidates, and a per-row window keeps the top k. Output:
    (id_col, neighbor_id, cos_sim, knn_rank), ≤ k rows per input row.

    Scale (100 TB): with a STORED ``bucket_col`` (written at ingest, the
    table's partition/cluster key) both join sides arrive pre-bucketed —
    the join is the only shuffle and it moves each vector
    1 + Σ C(bits, i) times. Dense regions make hot buckets; that skew is
    AQE's split-and-replicate case, and raising ``bits`` shrinks every
    bucket geometrically. Recall is tunable via (bits, probe radius)
    exactly like the one-query path; the brute-force window join is the
    recall=1.0 oracle (pinned in tests on real embeddings).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_row is None:
        # empty-input schema must match the non-empty path's exactly —
        # derive the id type from the input instead of assuming long
        from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

        id_type = df.schema[id_col].dataType
        return df.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField(id_col, id_type, True),
                    StructField("neighbor_id", id_type, True),
                    StructField("cos_sim", DoubleType(), True),
                    StructField("knn_rank", IntegerType(), False),
                ]
            ),
        )
    planes = hyperplane_signs(bits, dim_row["d"])
    bucket = (
        F.col(bucket_col) if bucket_col else lsh_bucket(vec_col, planes)
    )
    masks = [
        m for m in range(1 << bits) if bin(m).count("1") <= multi_probe_hamming
    ]
    base = df.select(F.col(id_col), F.col(vec_col), bucket.alias("__bk"))
    left = base.withColumn(
        "__pb",
        F.explode(F.array(*[F.col("__bk").bitwiseXOR(F.lit(m)) for m in masks])),
    ).select(
        F.col(id_col).alias("__idl"),
        F.col(vec_col).alias("__vl"),
        F.col("__pb"),
    )
    right = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vr"),
        F.col("__bk"),
    )
    sim = F.round(cosine(as_double(F.col("__vl")), as_double(F.col("__vr"))), 6)
    pairs = (
        left.join(
            right,
            (F.col("__pb") == F.col("__bk"))
            & (F.col("__idl") != F.col("neighbor_id")),
        )
        .select(F.col("__idl"), "neighbor_id", sim.alias("cos_sim"))
        # a pair can collide in several probe offsets — dedupe before
        # ranking or k slots fill with repeats
        .dropDuplicates(["__idl", "neighbor_id"])
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__idl").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(F.col("__idl").alias(id_col), "neighbor_id", "cos_sim", "knn_rank")
    )


def knn_self_join_exact(
    df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force kNN self-join (full pair join + window): O(n²) —
    the recall oracle for :func:`knn_self_join`, and the honest choice
    for small dimension tables."""
    a = df.select(F.col(id_col).alias("__idl"), F.col(vec_col).alias("__vl"))
    b = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vr")
    )
    sim = F.round(cosine(as_double(F.col("__vl")), as_double(F.col("__vr"))), 6)
    from pyspark.sql import Window

    w = Window.partitionBy("__idl").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        # broadcast the replicated side: the brute-force join is for
        # oracle/small-corpus use, where one side fits every executor —
        # BroadcastNestedLoopJoin, never an unpartitioned CartesianProduct
        a.crossJoin(F.broadcast(b))
        .filter(F.col("__idl") != F.col("neighbor_id"))
        .select("__idl", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(F.col("__idl").alias(id_col), "neighbor_id", "cos_sim", "knn_rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN
# ---------------------------------------------------------------------------


def fit_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    max_fit_points: int | None = 4096,
    max_iter: int = 8,
    order_col: str | None = None,
) -> list[list[list[float]]]:
    """Fit product-quantization codebooks (Jégou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    ``dim``-dimensional space into ``m`` contiguous subspaces and run the
    same bounded-sample seeded Lloyd's as :func:`fit_ivf_centroids`
    independently in each (seed offset per subspace so codebooks differ).

    Returns ``codebooks[j][c]`` = centroid ``c`` of subspace ``j`` — an
    O(m·k·dim/m) = O(k·dim) driver-sized object. Only this list leaves
    the driver; encoding and ADC scanning are pure column expressions.

    Why PQ at 100 TB: a 64-dim float32 vector is 256 bytes; its m=8/k≤256
    PQ code is m bytes — a 32× (here, with k=16, effectively 64×) smaller
    scan. The compressed table fits in a fraction of the executors'
    page cache and the ADC scan reads no raw vectors at all; raw
    embeddings are needed only for the optional exact re-rank of a
    shortlist (``rerank`` in :func:`ann_pq_topk`).

    ``order_col`` makes the fit a deterministic function of the data
    (sort-before-limit), which is what lets the DuckDB oracle replay
    bit-identical codebooks — same contract as :func:`fit_ivf_centroids`.
    """
    import numpy as np

    base = df.select(
        as_double(F.col(vec_col)).alias("__v"),
        *([F.col(order_col).alias("__o")] if order_col else []),
    ).where(F.col("__v").isNotNull())
    if order_col:
        base = base.orderBy("__o")
    rows = base.select("__v").limit(max_fit_points or (1 << 20)).collect()
    x = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    return pq_codebooks_from_sample(x, m=m, k=k, seed=seed, max_iter=max_iter)


def pq_codebooks_from_sample(
    x, m: int = 8, k: int = 16, seed: int = 42, max_iter: int = 8
) -> list[list[list[float]]]:
    """Pure PQ fit over an (n, dim) sample array — per-subspace seeded
    Lloyd's with a per-subspace seed offset. Pure function of
    (x, m, k, seed, max_iter): the DuckDB oracle reads the SAME
    deterministic sample from parquet and calls this exact code, so the
    codebook literals both engines carry are bit-identical."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    ds = dim // m
    return [
        lloyd_kmeans(x[:, j * ds : (j + 1) * ds], k, seed=seed + j, max_iter=max_iter)
        for j in range(m)
    ]


def _pq_code_vectorized(
    vec_col: str, codebooks: list[list[list[float]]]
) -> Column:
    """PQ encode for LARGE codebooks (k·dim past the unroll limit): one
    Arrow-batched pandas_udf computing every subspace's argmin with a
    single (batch, dim/m) × (dim/m, k) matmul per subspace — BLAS
    arithmetic instead of a generated expression janino can't compile.
    The codebook tensor (k·dim doubles) ships once per executor in the
    closure; at scale this stays a scan-local map with no shuffle.

    NULL semantics mirror the expression path element-for-element: a
    vector whose subspace-j slice is missing, short, or contains a NULL
    element gets NULL at position j only (the unrolled try_element_at
    scores NULL-propagate per subspace) — including the all-NULL-element
    code for a NULL input vector, since SQL's array() constructor never
    returns a NULL array."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sc2s = [(B * B).sum(axis=1) for B in books]
    ds = books[0].shape[1]
    m_sub = len(books)

    dim = ds * m_sub

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        # fast path: batch matmul over the (typical) fully-valid rows;
        # malformed rows take the per-row NULL-propagating path
        # NaN ≡ NULL element here: see _ivf_cell_vectorized
        mask = v.map(
            lambda x: x is not None
            and len(x) >= dim
            and not any(e is None or e != e for e in x[:dim])
        )
        out = pd.Series([None] * len(v), dtype="object")
        if mask.any():
            m = np.stack(
                [np.asarray(x[:dim], dtype=np.float64) for x in v[mask]]
            )
            codes = np.empty((m.shape[0], m_sub), dtype=np.int32)
            for j, (B, sc2) in enumerate(zip(books, sc2s)):
                scores = sc2[None, :] - 2.0 * (m[:, j * ds : (j + 1) * ds] @ B.T)
                codes[:, j] = np.argmin(scores, axis=1)
            # index-aligned Series: a bare list-of-lists through a boolean
            # mask would be coerced as a 2-D block, not row values
            out[mask] = pd.Series(
                [c.tolist() for c in codes], index=out.index[mask]
            )

        def enc_slow(x):
            code: list = [None] * m_sub
            for j, (B, sc2) in enumerate(zip(books, sc2s)):
                sl = x[j * ds : (j + 1) * ds]
                if len(sl) < ds or any(e is None or e != e for e in sl):
                    continue
                q = np.asarray(sl, dtype=np.float64)
                code[j] = int(np.argmin(sc2 - 2.0 * (B @ q)))
            return code

        bad = ~mask
        if bad.any():
            out[bad] = v[bad].map(lambda x: enc_slow(x if x is not None else []))
        return out

    return encode(F.col(vec_col))


def pq_code(vec_col: str, codebooks: list[list[list[float]]]) -> Column:
    """PQ encode: ``array<int>`` of length m — per subspace, the argmin
    squared distance between the vector's slice and that subspace's
    centroid literals. Same distance-ARRAY + first-minimum shape as
    :func:`ivf_cell` (each distance evaluated once, O(k) per subspace,
    no when-chain blowup); no UDF, no model object on executors.

    The expression is assembled as ONE SQL string (``F.expr``) rather
    than per-literal Column calls: m·k·(dim/m) centroid literals built
    via ``F.lit``/``F.array`` cost one py4j round-trip EACH (~3 s of
    driver time at m=8, k=16, dim=64 — measured), while the JVM parses
    the equivalent string in milliseconds. Literals are ``repr``'d
    (shortest round-tripping decimal) so the doubles are bit-identical
    either way.

    The per-centroid score is UNROLLED into explicit element_at
    multiply-adds instead of a zip_with/aggregate fold (higher-order
    functions evaluate interpreted; the arithmetic stays inside
    whole-stage codegen) and uses the dot-product identity
    ``argmin ‖v−c‖² = argmin (‖c‖² − 2·v·c)`` — the per-row ‖v‖² term
    is constant within a subspace and drops out, so each centroid costs
    one precomputed constant plus dim/m multiply-adds instead of dim/m
    subtract-squares. That cuts the expression to ~1/4 the nodes (parse
    + codegen + eval all scale with it). The DuckDB oracle emits the SAME
    :func:`shifted_score_sql` text per centroid, so both engines rank by
    bit-identical doubles and the encode agrees by construction.

    Written at ingest this is the stored-codes column: downstream ADC
    scans then read m small ints per row instead of the raw vector.

    Like :func:`ivf_cell`, the unrolled expression is bounded by
    :data:`_UNROLL_MAX_TERMS` total multiply-add terms (m·k·dim/m =
    k·dim): production-sized PQ (k=256, dim=64 → 16384 terms) would hit
    the same janino codegen blowup, so past the limit encoding switches
    to the Arrow-batched NumPy path (:func:`_pq_code_vectorized`) —
    same argmin per subspace; exact-tie/last-ulp behavior may differ
    from codegen, which is why oracle-gated queries stay under the
    limit (round-7 advisor finding)."""
    ds = len(codebooks[0][0])
    if len(codebooks) * len(codebooks[0]) * ds > _UNROLL_MAX_TERMS:
        return _pq_code_vectorized(vec_col, codebooks)

    def elem(i: int) -> str:
        return f"CAST(try_element_at(`{vec_col}`, {i}) AS DOUBLE)"

    parts = []
    for j, book in enumerate(codebooks):
        dists = ", ".join(
            shifted_score_sql(elem, cent, offset=j * ds) for cent in book
        )
        # per-subspace let-binding: score array evaluated once (see
        # ivf_cell), argmin reads the lambda variable
        parts.append(
            f"try_element_at(transform(array(array({dists})), "
            f"a -> CAST(array_position(a, array_min(a)) - 1 AS INT)), 1)"
        )
    return F.expr("array({})".format(", ".join(parts)))


def pq_lut(query_vec: list[float], codebooks: list[list[list[float]]]) -> list[float]:
    """Asymmetric-distance lookup table for one query, flattened row-major:
    ``lut[j*k + c]`` = squared L2 distance between the query's subspace-j
    slice and centroid c of codebook j. Computed ONCE on the driver in
    plain Python (O(m·k·dim/m) floats) and shipped as a literal — the
    per-row ADC distance is then m array lookups + (m−1) adds, no float
    math over the original dimensions at all."""
    ds = len(codebooks[0][0])
    lut: list[float] = []
    for j, book in enumerate(codebooks):
        q = query_vec[j * ds : (j + 1) * ds]
        for c in book:
            lut.append(sum((a - b) ** 2 for a, b in zip(q, c)))
    return lut


def pq_adc_dist(code_col: Column, lut_col: Column, m: int, k: int) -> Column:
    """ADC distance from a stored code and a (broadcast or literal) flat
    LUT column: Σ_j lut[j·k + code_j]. Fixed left-to-right addition order
    so the sum is bit-reproducible across engines."""
    terms = [
        F.try_element_at(
            lut_col, F.lit(j * k + 1) + F.try_element_at(code_col, F.lit(j + 1))
        )
        for j in range(m)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def ann_pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ ADC approximate top-k: rank by compressed-domain distance
    (ascending; ADC approximates squared L2), smallest id breaks ties.

    ``code_col`` names a STORED codes column written by :func:`pq_code`
    at ingest — then the scan reads m ints per row and never touches the
    raw embedding (the compression payoff). Without it codes are computed
    on the fly from the vector (correct; scans raw data — the ad-hoc
    path). ``rerank`` keeps an ADC shortlist of that size and re-ranks it
    by exact distance on the raw vectors (the standard IVFADC+R refine
    step): the exact pass touches only ``rerank`` rows, so recall rises
    without giving back the compressed scan."""
    if rerank is not None and rerank < k:
        raise ValueError(f"rerank budget {rerank} < k={k}: the exact pass "
                         "could only ever return rerank rows")
    nk = len(codebooks[0])
    m = len(codebooks)
    lut = F.lit([float(x) for x in pq_lut(query_vec, codebooks)])
    code = F.col(code_col) if code_col else pq_code(vec_col, codebooks)
    adc = pq_adc_dist(code, lut, m, nk)
    # pure-ADC path never projects the raw vector: with a stored code_col
    # the scan is codes-only (the compression payoff survives the plan)
    keep = [id_col] if not rerank else [id_col, vec_col]
    shortlist = (
        df.select(*keep, F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(rerank if rerank else k)
    )
    if not rerank:
        return shortlist
    v = as_double(F.col(vec_col))
    q = _query_lit(query_vec)
    exact = F.aggregate(
        F.zip_with(v, q, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        shortlist.select(id_col, F.round(F.sqrt(exact), 6).alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVFADC: the composed vector index (coarse cells + PQ codes) as a TABLE
# ---------------------------------------------------------------------------


def ann_index_rows(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Stamp the compact ANN index rows ``(id, cell, code)`` — the
    FAISS-IVFADC layout (coarse quantizer cell for pruning + PQ code for
    compressed scoring) as a plain DataFrame, meant to be written
    partitioned/sorted by ``cell``. Per row the index costs one int plus
    m bytes; the raw vector stays only in the source table and is read
    again solely for the exact re-rank of a top-k shortlist.

    Both quantizers are FROZEN driver-fit literals (fit_ivf_centroids /
    fit_pq_codebooks), so stamping is a pure projection: incremental
    maintenance is just upserting new rows — no refit, no rebuild, and
    historical codes never change under append."""
    return df.select(
        F.col(id_col),
        ivf_cell(vec_col, centroids).alias("cell"),
        pq_code(vec_col, codebooks).alias("code"),
    )


def ann_ivfpq_topk(
    index: DataFrame,
    raw: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    rerank: int | None = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query the composed index: probe the ``n_probe`` nearest cells
    (partition pruning on the stored ``cell`` column), rank candidates
    by ADC over the stored ``code`` column ONLY — the scan touches
    (id, cell, code), never a vector — then optionally re-rank the
    ``rerank``-sized shortlist by exact distance via a join back to the
    raw table on id (the shortlist side is broadcast: O(rerank) rows).

    This is the 100-TB query shape: cells cut the scan to
    n_probe/n_clusters of the index, PQ cuts the bytes per scanned row
    to m+8, and the only contact with raw vectors is O(rerank) rows."""
    if rerank is not None and rerank < k:
        raise ValueError(f"rerank budget {rerank} < k={k}: the exact pass "
                         "could only ever return rerank rows")
    probes = _nearest_centroids(query_vec, centroids, n_probe)
    m, nk = len(codebooks), len(codebooks[0])
    # one array literal, not m·k py4j lit() round-trips (see _query_lit)
    lut = F.lit([float(x) for x in pq_lut(query_vec, codebooks)])
    shortlist = (
        index.filter(F.col("cell").isin(probes))
        .select(id_col, F.round(pq_adc_dist(F.col("code"), lut, m, nk), 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(rerank if rerank else k)
    )
    if not rerank:
        return shortlist.limit(k)
    # r20 (guide §6): materialize the O(rerank) shortlist ids on the
    # driver and push them into the raw-table scan as a plain In filter.
    # The previous broadcast-join shape scanned the WHOLE raw table per
    # query (a join cannot push its build-side keys into the probe
    # side's parquet scan), so the "only contact with raw vectors is
    # O(rerank) rows" contract held for rows PROCESSED but not rows
    # READ; an In(id) predicate reaches PushedFilters and prunes row
    # groups by id statistics — at 100 TB the raw scan drops from
    # full-table to the shortlist's row groups. The shortlist is
    # deterministic (rounded ADC + id tie-break), so results are
    # unchanged; the collect moves O(rerank) longs, same as the
    # broadcast did.
    ids = [r[0] for r in shortlist.select(id_col).collect()]
    if not ids:
        return raw.limit(0).select(
            F.col(id_col), F.lit(0.0).alias("l2_dist")
        )
    v = as_double(F.col(vec_col))
    q = _query_lit(query_vec)
    exact = F.aggregate(
        F.zip_with(v, q, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        raw.filter(F.col(id_col).isin(ids))
        .select(id_col, F.round(F.sqrt(exact), 6).alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# scalar int8 quantization (r16) — the vector-store compression step
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard
    vector-store compression step (4× over float32, 8× over float64)
    between raw embeddings and the PQ/IVFADC index faces:

        scale = max_i |x_i|          (order-independent max)
        q_i   = round(x_i · 127 / scale)   ∈ [−127, 127]

    with the all-zero vector keeping scale 0.0 and all-zero codes, and
    the EMPTY vector scale 0.0 with empty codes (list_max/array_max of
    an empty list is NULL in both engines — coalesced explicitly so q
    can never go silently NULL through a NULL scale predicate).
    Output: (id_col, scale double, q array<int>). Exact across engines
    BY CONSTRUCTION: abs/max/multiply/divide are correctly-rounded
    IEEE ops on identical parquet doubles and both engines round ties
    away from zero (the PPMI micro-unit discipline, minus the ln — no
    transcendental means no 1-ulp window at all), so codes and scales
    replay bit-for-bit in DuckDB (:func:`quantize_sql`).

    |x_i| ≤ scale gives |q_i| ≤ 127 with NO clamp: x = ±scale lands on
    exactly ±127 (127.0 is exact). Reconstruction error is bounded by
    scale/254 per component (:func:`dequantize_col`).

    Scale: one narrow projection — embarrassingly parallel, no
    shuffle; at 100 TB this is a scan-stage rewrite whose output is
    the column you actually store."""
    v = as_double(F.col(vec_col))
    scale = F.coalesce(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(0.0)
    )
    q = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v, lambda x: F.round(x * F.lit(127.0) / scale, 0).cast("int")
        )
    )
    return df.select(
        F.col(id_col), scale.alias("scale"), q.alias("q")
    )


def dequantize_col(q_col: Column, scale_col: Column) -> Column:
    """Reconstruct ``array<double>`` from int8 codes: x̂_i = q_i·scale/127
    (pinned operation order, mirrored by :func:`dequantize_sql`);
    per-component error ≤ scale/254. The zero-scale branch falls out
    naturally (all terms 0)."""
    return F.transform(
        q_col, lambda qi: qi.cast("double") * scale_col / F.lit(127.0)
    )


def quantize_sql(vec: str) -> tuple[str, str]:
    """DuckDB mirror of :func:`quantize_embeddings`: returns
    ``(scale_expr, q_expr)`` over a double-list expression ``vec`` —
    same max, same pinned multiply/divide, same ties-away round."""
    scale = f"coalesce(list_max(list_transform({vec}, x -> abs(x))), 0.0)"
    q = (
        f"CASE WHEN {scale} = 0.0 THEN list_transform({vec}, x -> 0) "
        f"ELSE list_transform({vec}, x -> "
        f"(round((x * 127.0) / {scale}))::INT) END"
    )
    return scale, q


def dequantize_sql(q: str, scale: str) -> str:
    return f"list_transform({q}, qi -> (qi::DOUBLE * {scale}) / 127.0)"
