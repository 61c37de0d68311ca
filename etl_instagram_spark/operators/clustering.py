"""Distributed k-means clustering (Lloyd's) over embedding columns.

The reference engine has no clustering surface (its only grouping
analytics is the LDA topic kernel, module/instagram/topics.js:5-48);
this module generalizes that to vector-space clustering for the
LLM-pipeline surfaces that consume centroids — IVF/IVFADC coarse
quantizers (operators/similarity.py), SemDeDup cells
(operators/dedup.py), and corpus bucketing for curriculum/mixture
construction.

Division of labor with ``similarity.fit_ivf_centroids``: the bounded
driver-sample fit is the right shape when only rough cluster geometry is
needed (ANN recall is insensitive to centroid precision — see its
docstring). THIS module is for when the clusters themselves are the
deliverable, or the corpus is skewed enough that a 4096-point sample
misrepresents it: ``refine_centroids`` runs true Lloyd's over ALL rows,
one scan per iteration, with per-partition partial aggregation
collapsing each partition to ≤ k rows of (count, dim integer sums)
before the shuffle — at 100 TB and 1000 executors each iteration
shuffles O(partitions · k · dim) small integers and the driver holds
O(k · dim) floats, never row data.

Determinism (the repo's tie-class discipline): float summation order is
partitioning-dependent, so a naive ``avg(element)`` yields different
last-ulp centroids on different cluster layouts. Instead each element is
quantized to LONG micro-units — ``floor(x · 10^QUANT_DP)`` as BIGINT, a
per-row expression that is bit-identical on any engine (the 6-place
precedent certified by docs_bm25_topk) — and summed as a primitive
64-bit integer: exact, order-independent, and pure codegen arithmetic.
(A DECIMAL(38,6) sum is equally exact but runs on BigDecimal — measured
3-4× slower per refinement scan; the long path overflows loudly under
ANSI only past ~10^12 rows · unit-scale values per cell, where the
decimal cast is the escape hatch.) The new centroid
``(sum_units / 10^QUANT_DP) / n`` is computed in PYTHON on the driver
from the exact integer, so a DuckDB replay that produces the same sums
reproduces bit-identical centroids — certified end-to-end by the
``emb_kmeans_cells`` gate oracle (plans/q_emb.py), which re-runs
init + every refinement iteration with DuckDB doing all the data math.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_instagram_spark.operators.similarity import (
    _UNROLL_MAX_TERMS,
    fit_ivf_centroids,
    ivf_cell,
    shifted_score_sql,
)

# per-element quantization for order-independent integer sums; 6 places
# is the cross-engine-certified grid (docs_bm25_topk replays 6-place
# scores value-for-value), and a 1e-6 grid on O(1) embedding values is
# far below any meaningful centroid movement
QUANT_DP = 6


def _elem(vec_col: str, i: int) -> str:
    """1-based vector element as Spark SQL text — the same accessor
    ivf_cell/pq_code unroll, so scores here match theirs bit-for-bit."""
    return f"CAST(try_element_at(`{vec_col}`, {i}) AS DOUBLE)"


def _valid_vec(vec_col: str, dim: int, reject_nan: bool = False):
    """Cheap well-formedness predicate equivalent to ``ivf_cell(...)
    IS NOT NULL``: the assignment is NULL iff the vector is NULL,
    shorter than ``dim``, or has a NULL among its first ``dim`` elements
    (try_element_at NULL-propagates through every score, array_min of an
    all-NULL array is NULL, array_position against NULL is NULL; NaN
    elements still assign on the expression path, and this predicate
    keeps them too).

    ``reject_nan=True`` is for the VECTORIZED ``ivf_cell`` regime
    (n_clusters·dim > similarity._UNROLL_MAX_TERMS): there the Arrow
    boundary surfaces NaN ≡ NULL and the UDF masks NaN rows to a NULL
    cell, so the equivalent predicate must reject them too — otherwise a
    NULL-cell group row reaches the aggregate (and pre-r20,
    ``refine_centroids``' driver loop crashed on ``cur[None]`` for NaN
    embeddings under large quantizers — the r19 ADVICE regression).

    Filtering on the CHEAP predicate instead of on the computed cell
    matters for plan shape (r19): a ``WHERE cell IS NOT NULL`` over the
    k·dim score projection gets pushed below the Project by Catalyst,
    duplicating the full interpreted score expression into the Filter —
    every row paid the argmin twice (the guide §4.4 duplication, with an
    expensive expression instead of a UDF)."""
    v = F.col(vec_col)
    bad = (
        (lambda x: x.isNull() | F.isnan(x))
        if reject_nan
        else (lambda x: x.isNull())
    )
    return (
        v.isNotNull()
        & (F.size(v) >= dim)
        & ~F.exists(F.slice(v, 1, dim), bad)
    )


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment as a pure column expression (no UDF,
    no model object; the ``ivf_cell`` codegen/vectorized dispatch).
    Malformed vectors (NULL, short, NULL element) get a NULL cell."""
    return df.withColumn(out_col, ivf_cell(vec_col, centroids))


def refine_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_iter: int = 1,
    quant_dp: int = QUANT_DP,
) -> list[list[float]]:
    """Distributed Lloyd's refinement: ``n_iter`` iterations of
    assign-all-rows → per-cell mean, each iteration ONE scan.

    Physical shape per iteration: the assignment is a scan-stage
    expression (``ivf_cell``); the aggregation is ``groupBy(cell)`` over
    ``count`` plus one exact long micro-unit sum per dimension — map-side
    partial aggregation collapses every partition to ≤ k rows before
    the shuffle, so shuffle volume is O(partitions · k · dim) longs
    regardless of row count, and only k aggregate rows reach the driver.

    Centroids are a deterministic function of the DATA, not the
    partitioning: per-row ``floor(element · 10^quant_dp)`` is
    bit-identical everywhere, the 64-bit integer sum is exact and
    order-independent (ANSI errors loudly on overflow — see the module
    docstring for the bound), and the final
    ``(sum_units / 10^quant_dp) / n`` division happens in Python on the
    driver. Cells that receive no rows keep their previous centroid
    (the standard empty-cluster fallback). Rows whose vector is NULL or
    malformed carry a NULL cell and drop out of the update.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    dim = len(centroids[0])
    scale = 10**quant_dp
    cur = [[float(x) for x in c] for c in centroids]
    # the vectorized ivf_cell regime masks NaN rows to a NULL cell —
    # reject them up front so no NULL-cell group reaches the aggregate
    # (ADVICE r19 #1: cur[None] crashed the update loop)
    vectorized = len(centroids) * dim > _UNROLL_MAX_TERMS
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.floor(F.expr(_elem(vec_col, d + 1)) * scale)).alias(f"s{d}")
        for d in range(dim)
    ]
    for _ in range(n_iter):
        rows = (
            df.where(_valid_vec(vec_col, dim, reject_nan=vectorized))
            .select(ivf_cell(vec_col, cur).alias("cell"), vec_col)
            .groupBy("cell")
            .agg(*aggs)
            .collect()
        )
        for r in rows:
            # r["cell"] is None guards the belt-and-braces case (a NaN
            # row slipping the predicate can only yield a NULL cell,
            # never a wrong one)
            if r["n"] and r["cell"] is not None:
                cur[r["cell"]] = [
                    (r[f"s{d}"] / scale) / r["n"] for d in range(dim)
                ]
    return cur


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    seed: int = 42,
    n_iter: int = 4,
    init_points: int = 4096,
    order_col: str | None = None,
    quant_dp: int = QUANT_DP,
) -> list[list[float]]:
    """Full distributed k-means: seeded k-means++ init on a bounded
    driver sample (``similarity.fit_ivf_centroids`` — one TakeOrdered
    job, O(init_points · dim) driver memory) followed by ``n_iter``
    distributed Lloyd's iterations over the whole table. With
    ``order_col`` set, the entire fit — init sample and refinement — is
    a pure function of the data, replayable bit-identically by another
    engine."""
    init = fit_ivf_centroids(
        df,
        vec_col=vec_col,
        n_clusters=k,
        seed=seed,
        max_fit_points=init_points,
        order_col=order_col,
    )
    return refine_centroids(
        df, init, vec_col=vec_col, n_iter=n_iter, quant_dp=quant_dp
    )


def kmeans_cost(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    quant_dp: int = QUANT_DP,
) -> DataFrame:
    """Per-cell size and within-cluster SSE (the k-means objective) in
    one scan: ``(cell, n, sse)`` ordered by cell.

    The per-row squared distance to the assigned centroid is
    ``array_min(scores) + ‖v‖²`` where ``scores`` is the SAME
    ``shifted_score_sql`` text ``ivf_cell`` ranks by (``‖c‖² − 2·v·c``)
    — one expression evaluation serves both the argmin and the
    distance. Rows are quantized to long micro-units and summed as
    exact 64-bit integers, so the reported SSE is
    partitioning-independent and cross-engine reproducible (same
    discipline as :func:`refine_centroids`); the published column is
    ``round(sum_units / 10^quant_dp, 4)``.

    Past :data:`similarity._UNROLL_MAX_TERMS` total multiply-adds
    (k·dim) the unrolled text would blow up janino like the encode
    paths, so large quantizers switch to one Arrow-batched NumPy
    pass computing (cell, rounded sse) per row — same decimal
    aggregation on top; summation order and rounding mode (NumPy
    half-even vs SQL HALF_UP) may differ from codegen at exact ties,
    which is why the cross-engine-certified parity entry stays under
    the limit."""
    dim = len(centroids[0])
    scale = 10**quant_dp
    vectorized = len(centroids) * dim > _UNROLL_MAX_TERMS
    if vectorized:
        assigned = _cell_sse_vectorized(vec_col, centroids, quant_dp)
    else:

        def elem(i: int) -> str:
            return _elem(vec_col, i)

        scores = ", ".join(shifted_score_sql(elem, c) for c in centroids)
        sumsq = " + ".join(
            f"{elem(d + 1)} * {elem(d + 1)}" for d in range(dim)
        )
        # one let-bound score-array evaluation serves BOTH the argmin
        # and the distance (see ivf_cell's binding note); same values,
        # same tie-break as assigning and scoring separately
        assigned = F.expr(
            f"try_element_at(transform(array(array({scores})), a -> "
            f"named_struct("
            f"'cell', CAST(array_position(a, array_min(a)) - 1 AS INT), "
            f"'sse', CAST(floor((array_min(a) + ({sumsq})) * {scale}) AS BIGINT)"
            f")), 1)"
        )
    return (
        # reject_nan in the vectorized regime: the UDF masks NaN rows to
        # a NULL cell, and a NULL-cell group row would otherwise appear
        # in the output (the expression path assigns NaN rows a cell, so
        # there the keep-NaN predicate is the exact equivalent)
        df.where(_valid_vec(vec_col, dim, reject_nan=vectorized))
        .select(assigned.alias("__a"))
        .select(
            F.col("__a.cell").alias("cell"),
            F.col("__a.sse").alias("__sse"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("__sse").cast("double") / scale, 4).alias("sse"),
        )
        .orderBy("cell")
    )


def _cell_sse_vectorized(
    vec_col: str, centroids: list[list[float]], quant_dp: int
) -> Column:
    """(cell, sse micro-units) for LARGE quantizers: one NumPy matmul
    per Arrow batch (see similarity._ivf_cell_vectorized for the
    dispatch rationale and the NaN≡NULL boundary convention). Malformed
    rows get a NULL cell and drop out of the aggregate upstream."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    sc2 = (C * C).sum(axis=1)
    dim = C.shape[1]
    scale = 10**quant_dp

    @pandas_udf("cell int, sse long")
    def score(v: pd.Series) -> pd.DataFrame:
        mask = v.map(
            lambda x: x is not None
            and len(x) >= dim
            and not any(e is None or e != e for e in x[:dim])
        )
        out = pd.DataFrame(
            {
                "cell": pd.Series([None] * len(v), dtype="Int32"),
                "sse": pd.Series([None] * len(v), dtype="Int64"),
            }
        )
        if mask.any():
            m = np.stack(
                [np.asarray(x[:dim], dtype=np.float64) for x in v[mask]]
            )
            scores = sc2[None, :] - 2.0 * (m @ C.T)
            out.loc[mask.values, "cell"] = np.argmin(scores, axis=1).astype(
                "int32"
            )
            sse = scores.min(axis=1) + (m * m).sum(axis=1)
            out.loc[mask.values, "sse"] = np.floor(sse * scale).astype(
                "int64"
            )
        return out

    return score(F.col(vec_col))
