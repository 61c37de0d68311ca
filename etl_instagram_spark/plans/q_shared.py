"""Shared kernels for the per-family query modules: the whitespace/token
SQL mirrors, the language-marker detector, the deterministic small-file
spread, vector column helpers, and the convergence-asserted connected-
components CTE chain used by both the dedup and entity-resolution
oracles."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.functions import text as T


def oracle_parquet(table: str) -> str:
    """Parquet path the fit-from-data oracle mirrors read: ``table`` under
    ``SPARK_GRAFT_ORACLE_SF_DIR``, default the driver gate's sf0.01."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    return os.path.join(sf_dir, f"{table}.parquet")


# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB) mirroring functions/text.py kernels
# ---------------------------------------------------------------------------

# the whitespace class is spelled out (not \s) for the same reason as
# text.BPE_SPLIT_PATTERN: the Spark side tokenizes with Java \s, which
# includes U+000B while RE2's (DuckDB's) \s does not — the explicit set
# IS Java's \s, so both engines split identically on any input
SQL_WS = r" \t\n\x0B\f\r"
SQL_TOKS = rf"regexp_split_to_array(trim(lower(text)), '[{SQL_WS}]+')"


def _sql_marker_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.LANG_MARKERS[lang])
    return f"len(list_filter(toks, t -> t IN ({words})))"


def _sql_detect_language() -> str:
    """CASE chain in (en, es, fr, de) order — same tie-break as
    text.detect_language."""
    hits = {lang: _sql_marker_hits(lang) for lang in T.LANG_MARKERS}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    arms = "\n".join(
        f"WHEN {h} = {best} AND {best} > 0 THEN '{lang}'" for lang, h in hits.items()
    )
    return f"CASE {arms} ELSE 'und' END"


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row kernels can use every core: small local
    test files are a single parquet row group → one partition → one core.
    Repartition ONLY when the scan's parallelism is far below the
    cluster's (at 100 TB the file count provides natural parallelism and
    this is a no-op; locally it turns a 1-core text scan into 32)."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# embeddings: brute-force cosine top-k
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — same IEEE summation order as the
    oracle's list_dot_product, so doubles agree bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


# ---------------------------------------------------------------------------
# near-dup clusters as the product (operators/dedup.duplicate_clusters) —
# promoted to the gate in r10 (top3_orders_per_customer rotated)
# ---------------------------------------------------------------------------

# the oracle replays min-label propagation for a FIXED round count; the
# Spark side iterates to convergence, so equality needs rounds ≥ the
# dup graph's min-label convergence depth. Dup clusters are hub-shaped
# (diameter 2-4); 16 is a 4-8× margin, and extra rounds are no-ops
# (min-label is monotone — the fixed point absorbs)
_CC_ORACLE_ROUNDS = 16


def _sql_cc_rounds(rounds: int) -> str:
    """Fixed-round min-label propagation CTEs over ``verified`` pairs:
    ``edges`` (symmetric), ``l0`` (label = own id), ``l{i}`` = per-node
    min over self + neighbors' round-(i-1) labels. After convergence
    every label is the component minimum; extra rounds are no-ops.
    The final CTE is ``lcc``: round-``rounds`` labels gated by a LOUD
    convergence assertion — labels are monotone non-increasing, so
    sum(component) equal across the last two rounds ⇔ converged; if a
    deeper-than-budget chain ever appears in the data, DuckDB raises
    ``error('cc oracle: ...')`` instead of silently certifying
    non-minimal labels. Consumers must read ``lcc``, not ``l{rounds}``.

    Every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    each round references its predecessor twice — inlining would expand
    the chain to 2^rounds copies of the base scan (the first run of
    this oracle died opening ~65k file handles). Materialization makes
    the replay linear in rounds, which is also what the Spark side's
    per-round localCheckpoint does."""
    parts = [
        "edges AS MATERIALIZED (SELECT ia AS u, ib AS v FROM verified"
        " UNION SELECT ib, ia FROM verified)",
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS component FROM edges)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT id, min(component) AS component FROM ("
            f" SELECT id, component FROM l{i - 1}"
            f" UNION ALL"
            f" SELECT e.v AS id, l.component FROM edges e"
            f" JOIN l{i - 1} l ON e.u = l.id) x GROUP BY id)"
        )
    parts.append(
        f"lcc AS MATERIALIZED (SELECT id, CASE WHEN"
        f" COALESCE((SELECT sum(component) FROM l{rounds}), 0)"
        f" = COALESCE((SELECT sum(component) FROM l{rounds - 1}), 0)"
        f" THEN component ELSE error('cc oracle: label propagation not"
        f" converged within {rounds} rounds — raise the budget')"
        f" END AS component FROM l{rounds})"
    )
    return ",\n".join(parts)
