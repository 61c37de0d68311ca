"""Exact heavy hitters (frequent terms) with bounded memory — the
"what are the dominant tokens / URLs / shingles in this corpus" kernel
every training-data audit runs, engine-native (the reference's only
frequency surface is the full word-count feeding LDA, topics.js:6-30,
which shuffles EVERY distinct term; see enrich/topics.py for that port).

Why not just ``groupBy(term).count()``: at 100 TB the term domain is
billions of distinct values (URLs, shingles, typo'd words), so the full
group-by shuffles the entire domain to answer a question whose output is
tiny ("terms above 0.5 %"). The classic fix is the two-pass
Misra-Gries shape:

- **pass 1 (candidates)**: each partition streams its terms through a
  Misra-Gries summary with ``k = ceil(den/num)`` counters —
  O(k) memory, no shuffle. By the averaging argument, any term with
  global share ≥ num/den has local share ≥ num/den in at least one
  partition, and MG with k ≥ den/num counters retains every term with
  local share > 1/(k+1) — so the union of per-partition candidates is a
  SUPERSET of the true heavy hitters (false positives possible, false
  negatives impossible).
- **pass 2 (exact verify)**: a broadcast semi-join restricts the second
  scan to candidate terms only (map-side filter — the term domain is
  never shuffled), then an exact count of that tiny subset with the
  threshold filter makes the result EXACT: precisely the terms t with
  ``count(t) * den >= n * num``.

The support threshold is an exact rational ``num/den`` and the filter is
integer arithmetic, so the result is bit-identical across engines and
partitionings — a SQL ``GROUP BY ... HAVING count(*)*den >= n*num``
oracle replays it verbatim (plans/q_docs.py `docs_heavy_hitters`).

Determinism: the candidate SET depends on partitioning (MG eviction
order), but the RESULT does not — pass 2's exact filter removes every
partition-dependent false positive.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

_SUMMARY_SCHEMA = StructType(
    [
        # candidate term (NULL on the one per-partition total row)
        StructField("term", StringType(), True),
        # the term's Misra-Gries residual weight (NULL on the total row);
        # for any term, true_count - n/(capacity+1) <= weight <= true_count
        StructField("weight", LongType(), True),
        # partition row count (NULL on candidate rows)
        StructField("n_part", LongType(), True),
    ]
)


def _mg_absorb(counters: dict[str, int], vc: "pd.Series", capacity: int) -> dict[str, int]:
    """Fold one Arrow batch's exact term counts into a Misra-Gries
    summary: bulk-add, then one mergeable-summaries trim (subtract the
    (capacity+1)-th largest weight, drop non-positive). Equivalent bound
    to per-term MG steps — an exact count is a zero-error summary and
    trimming is how summaries merge — but the per-batch work is a C-speed
    ``value_counts`` plus O(distinct + capacity), not a Python loop over
    every term occurrence (~10× on token streams)."""
    for t, w in vc.items():
        counters[t] = counters.get(t, 0) + int(w)
    if len(counters) > capacity:
        theta = sorted(counters.values(), reverse=True)[capacity]
        counters = {t: c - theta for t, c in counters.items() if c > theta}
    return counters


def mg_summary(
    terms: DataFrame,
    term_col: str,
    capacity: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Pass 1: per-partition Misra-Gries summaries.

    Returns a SMALL frame (≤ capacity candidate rows + 1 total row per
    partition): ``term`` rows are the partition's surviving counters,
    ``n_part`` rows carry the partition's non-null term count (so the
    caller gets n without a third scan of the input). NULL terms are
    ignored (they are not countable values, matching the oracle's
    ``WHERE term IS NOT NULL``).

    ``weight_col`` switches to WEIGHTED summaries: each row contributes
    its positive-int64 weight — the averaging argument is
    weight-agnostic (a weight-w item is w unit items), so the
    no-false-negative candidate guarantee holds against weight shares.
    Bad weights on a non-null term raise loudly inside the scan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        n = 0
        for pdf in batches:
            if weight_col is None:
                vc = pdf[term_col].dropna().value_counts()
            else:
                sub = pdf[[term_col, weight_col]].dropna(subset=[term_col])
                wts = sub[weight_col]
                if wts.isna().any() or (wts <= 0).any():
                    raise ValueError(
                        "mg_summary: weight must be a positive int64"
                    )
                vc = sub.groupby(term_col, sort=False)[weight_col].sum()
            n += int(vc.sum())
            counters = _mg_absorb(counters, vc, capacity)
        out: list[dict[str, Any]] = [
            {"term": t, "weight": w, "n_part": None} for t, w in counters.items()
        ]
        out.append({"term": None, "weight": None, "n_part": n})
        yield pd.DataFrame(out, columns=["term", "weight", "n_part"])

    cols = [F.col(term_col)] + (
        [] if weight_col is None else [F.col(weight_col).cast("long")]
    )
    return terms.select(*cols).mapInPandas(run, _SUMMARY_SCHEMA)


def heavy_hitters(
    terms: DataFrame,
    term_col: str,
    support_num: int,
    support_den: int,
    out_count_col: str = "n_occ",
    weight_col: str | None = None,
) -> DataFrame:
    """EXACT terms with frequency ≥ (num/den) of all non-null terms.

    Two scans of ``terms`` (MG candidates, then exact verify of the
    candidate subset), one bounded summary in between — never a full
    ``groupBy`` over the term domain. The threshold compare is the
    integer predicate ``count * den >= n * num`` (no float, no ceil), so
    the output is a pure function of the multiset of terms.

    ``weight_col`` switches BOTH passes to weights: candidates from the
    weighted MG summaries (no-false-negative vs weight shares), exact
    verify by ``sum(weight)``, threshold against total weight W — "which
    domains hold ≥ num/den of all TOKENS", exact and bit-identical
    across engines (the oracle is GROUP BY HAVING sum(w)·den ≥ W·num).

    Precondition (checked loudly, mirroring pps_sample's W·n bound):
    ``W · max(num, den) < 2^63`` — both sides of the integer threshold
    multiply totals bounded by W by the support rational, and non-ANSI
    Spark would silently wrap where DuckDB errors."""
    if support_num <= 0 or support_den <= 0:
        raise ValueError("support must be a positive rational num/den")
    if support_num > support_den:
        raise ValueError("support num/den must be <= 1")
    capacity = math.ceil(support_den / support_num)

    # pin pass 1: the summary feeds two consumers (the n aggregate and
    # the pass-2 semi-join); without the checkpoint each would re-scan
    # the full input
    summary = mg_summary(
        terms, term_col, capacity, weight_col
    ).localCheckpoint(eager=True)
    n = summary.agg(F.sum("n_part")).collect()[0][0] or 0
    if n * max(support_num, support_den) >= 2**63:
        raise ValueError(
            "heavy_hitters: total weight W * max(num, den) overflows "
            f"int64 (W={n}, num={support_num}, den={support_den}); the "
            "integer threshold W*num and count*den must both fit in "
            "BIGINT for cross-engine exactness"
        )
    candidates = (
        summary.filter(F.col("term").isNotNull())
        .select(F.col("term").alias("__hh_term"))
        .distinct()
    )
    measure = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(F.col(weight_col).cast("long"))
    )

    return (
        terms.filter(F.col(term_col).isNotNull())
        .join(
            F.broadcast(candidates),
            F.col(term_col) == F.col("__hh_term"),
            "left_semi",
        )
        .groupBy(term_col)
        .agg(measure.cast("long").alias(out_count_col))
        .filter(F.col(out_count_col) * support_den >= F.lit(n) * support_num)
    )


def mg_merge(summaries: DataFrame, capacity: int) -> DataFrame:
    """Merge any union of Misra-Gries summaries (partition summaries,
    per-batch summaries, a store of epoch summaries) into ONE summary of
    at most ``capacity`` counters, in the `_SUMMARY_SCHEMA` shape.

    Mergeability (Agarwal et al., "Mergeable Summaries", PODS'12): sum
    weights per term, then subtract the (capacity+1)-th largest combined
    weight from every term and drop the non-positive remainder. The
    merged summary keeps the MG error bound over the COMBINED stream —
    for every term, ``true_count − n/(capacity+1) ≤ weight ≤
    true_count`` — so merging is associative and order-free: summaries
    can be folded across partitions, micro-batches, or days without ever
    touching raw history again.

    The trim quantile is a bounded collect (capacity+1 weights); the
    groupBy runs over summary rows, never raw terms.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    n = (
        summaries.filter(F.col("term").isNull())
        .agg(F.sum("n_part"))
        .collect()[0][0]
        or 0
    )
    combined = (
        summaries.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("weight").alias("weight"))
    )
    top = [
        r["weight"]
        for r in combined.orderBy(F.desc("weight")).limit(capacity + 1).collect()
    ]
    theta = top[capacity] if len(top) > capacity else 0
    spark = summaries.sparkSession
    trimmed = (
        combined.withColumn("weight", F.col("weight") - F.lit(theta))
        .filter(F.col("weight") > 0)
        .withColumn("n_part", F.lit(None).cast("long"))
        .select("term", "weight", "n_part")
    )
    total = spark.createDataFrame([(None, None, n)], _SUMMARY_SCHEMA)
    return trimmed.unionByName(total)
