"""Entity resolution: blocking → bounded pair comparison → connected
components → canonical entity.

The classic record-linkage shape (Fellegi-Sunter framing, the
blocking-key practice surveyed in Christen, "Data Matching", 2012) —
and a training-data-pipeline staple: source/author/domain tables arrive
with spelling variants, and corpus statistics keyed on the raw string
split one logical entity's mass across variants. This engine re-uses
its dedup machinery: the pair graph goes through the same certified
connected-components kernel as near-dup clustering (operators/dedup).

Spark-first shape, and why it scales:

- BLOCKING is the quadratic-killer: candidate pairs are generated by a
  key-equi self-join on a caller-chosen block expression (phonetic key,
  first token, sorted-neighborhood window key, …) — never an all-pairs
  cross join. Cost is Σ_b |block_b|², so the block key's job is to
  bound block sizes; hot blocks are the skew to watch (the same
  frequency-ordered-prefix reasoning as dedup.jaccard_join applies if
  a text-similarity verify is used instead).
- VERIFY stays in whole-stage codegen: ``levenshtein`` is a built-in
  in both Spark and DuckDB with identical integer semantics, which is
  what makes the whole pipeline cross-engine certifiable (gate row
  ``part_entity_resolution``).
- CLUSTERING is dedup.dedup_components over the verified pair list —
  O(duplicates) rows, O(graph diameter) key-equi rounds; the entity
  label is the smallest reachable member id, so the canonical row is
  the label's own row (no second argmax pass needed for min-id
  canonicalization; quality-based canonicalization composes via
  dedup.near_dedup_keep_best's window pattern).

The reference has no entity surface (its identity is exact keys);
engine-native extension per SURVEY §7.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_instagram_spark.operators.dedup import dedup_components
from etl_instagram_spark.operators.merge import MergeTable


def normalized_name(name: Column) -> Column:
    """The comparison form: trimmed, lower-cased. Kept minimal and
    mirrored verbatim in oracle SQL (``trim(lower(x))``) — fancier
    normalizations (unicode folding, punctuation strip) belong in the
    caller where their SQL mirror stays explicit."""
    return F.trim(F.lower(name))


def exact_pair_count() -> Column:
    """``n_blocks · (block_size·(block_size−1) div 2)`` in pure BIGINT
    arithmetic over columns ``block_size``/``n_blocks`` — s·(s−1) is
    always even so integer ``div`` is exact, where a double division
    loses integer exactness past 2^53: exactly at the extreme size
    classes :func:`block_size_audit` exists to flag."""
    return F.expr(
        "n_blocks * ((CAST(block_size AS BIGINT) * (block_size - 1)) div 2)"
    ).cast("long")


def block_size_audit(
    df: DataFrame,
    name_col: str,
    block: Column,
    max_block_size: int | None = None,
) -> DataFrame:
    """The skew audit for a blocking key: per distinct block SIZE,
    (block_size, n_blocks, n_rows, n_pairs, oversized) ordered largest
    first — ``n_pairs`` is the edit-distance comparisons that size
    class costs (n_blocks · s·(s−1)/2) and ``oversized`` marks the
    classes a ``max_block_size`` guard would drop. Output is bounded by
    the number of DISTINCT sizes (tiny), never per-block, so the audit
    is itself scale-safe. Run this before choosing a block key: one
    degenerate block (a stopword token, an empty-string key) showing up
    here as a single huge size class is the quadratic the guard
    exists to stop."""
    sizes = (
        df.select(
            normalized_name(F.col(name_col)).alias("__norm"),
            block.alias("__blk"),
        )
        .filter(F.col("__norm").isNotNull() & F.col("__blk").isNotNull())
        .groupBy("__blk")
        .agg(F.count(F.lit(1)).alias("block_size"))
    )
    return (
        sizes.groupBy("block_size")
        .agg(F.count(F.lit(1)).alias("n_blocks"))
        .select(
            "block_size",
            "n_blocks",
            (F.col("block_size") * F.col("n_blocks")).alias("n_rows"),
            exact_pair_count().alias("n_pairs"),
            (
                F.lit(False)
                if max_block_size is None
                else F.col("block_size") > max_block_size
            ).alias("oversized"),
        )
        .orderBy(F.col("block_size").desc())
    )


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block: Column,
    max_dist: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Verified match pairs (id_a < id_b): block-key equi self-join,
    then ``levenshtein(norm_a, norm_b) <= max_dist``. Only within-block
    pairs pay the edit-distance; the join itself is a plain shuffle
    equi-join on the block key.

    ``max_block_size`` is the HOT-BLOCK guard: the pair stage costs
    Σ_b |block_b|², so one degenerate block (a stopword token as the
    key, an empty-string key) goes quadratic silently. With the guard
    set, rows in blocks larger than ``max_block_size`` are EXCLUDED
    from pair generation — those rows still resolve as singletons
    downstream (same as any non-matching row), and the dropped classes
    are visible in :func:`block_size_audit` with ``oversized=True``
    (run it with the same key; the curate_corpus per-stage-attribution
    discipline). Exclusion is deterministic (a pure function of the
    block key), so results stay partition- and engine-invariant. The
    guard bounds the pair stage at Σ min(|b|, cap)² ≤ rows·cap.
    Default ``None`` preserves the unguarded semantics."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if max_block_size is not None and max_block_size < 2:
        raise ValueError(
            f"max_block_size must be >= 2 (a pair needs 2 rows), got "
            f"{max_block_size}"
        )
    n = df.select(
        F.col(id_col).alias("__id"),
        normalized_name(F.col(name_col)).alias("__norm"),
        block.alias("__blk"),
    ).filter(F.col("__norm").isNotNull() & F.col("__blk").isNotNull())
    # staged once per ROW (not per pair): levenshtein ≥ |len(a) − len(b)|,
    # so a length-gap pre-filter inside the join condition prunes pairs
    # before any edit-distance work without dropping a qualifying pair
    n = n.withColumn("__ln", F.length("__norm"))
    # pin the self-join's parallelism (r20, guide §2.5): the shuffled
    # BYTES of (id, norm, blk) are tiny, so AQE coalesced the join's
    # post-shuffle reads to 1-2 partitions — serializing the Σ|block|²
    # levenshtein verify onto 1-2 cores (profiled: a 2-task 2.1 s job
    # carrying ~8.6M pairs at sf0.1). A user repartition with an
    # explicit partition count is exempt from AQE coalescing, and both
    # the guard groupBy and the self-join key on __blk, so the one
    # shuffle here is REUSED by everything downstream (no added
    # exchange). Pair placement cannot change the verified pair set.
    n = n.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "__blk"
    )
    if max_block_size is not None:
        # size filter shares the self-join's shuffle key, so the guard
        # adds one groupBy + one equi-join on an already-shuffled column
        ok = (
            n.groupBy("__blk")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_block_size)
            .select("__blk")
        )
        n = n.join(ok, "__blk")
    a = n.alias("a")
    b = n.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.abs(F.col("a.__ln") - F.col("b.__ln")) <= max_dist
            ),
        )
        # bounded-distance verify: levenshtein(a, b, t) early-exits past
        # t and returns −1 (O(n·t) per pair instead of O(n·m)); ≥ 0 is
        # exactly the old ``levenshtein(a, b) <= max_dist``
        .filter(
            F.levenshtein(F.col("a.__norm"), F.col("b.__norm"), max_dist)
            >= 0
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    window: int = 4,
    max_dist: int = 2,
    sort_key: Column | None = None,
    bucket: Column | None = None,
) -> DataFrame:
    """Verified match pairs under SORTED-NEIGHBORHOOD blocking (Christen
    2012 §4.5; Hernández & Stolfo SIGMOD'95): rows are ranked by a
    total sort order over (sort_key, id) and every row is compared only
    to the ``window−1`` rows following it — pair volume is EXACTLY
    n·(window−1) regardless of key distribution, the structural fix for
    hot blocks (standard blocking's Σ|block|² has no such bound; the
    ``max_block_size`` guard caps it by DROPPING rows, SNM never drops).
    Output is (id_a < id_b) verified with ``levenshtein ≤ max_dist`` —
    composable with :func:`dedup_components` like any pair source.

    ``sort_key`` defaults to the normalized name. Scale shape: a GLOBAL
    row_number would funnel every row through one partition (the
    WindowExec warning the quartiles query design avoids), so the rank
    is computed as bucket-local row_number + broadcast prefix offsets:
    ``bucket`` partitions the window, one tiny per-bucket count frame
    cumsums into offsets, and the result is the exact global rank,
    deterministic under any partitioning — and invariant to the BUCKET
    CHOICE (tested), which is therefore the pure scale lever. Any
    PREFIX of the sort key preserves lexicographic order; the default
    is the first THREE characters (a 1-char prefix concentrates a
    first-letter-skewed name corpus — every "restaurante …", every
    "the …" — into one bucket's row_number window on a single task; 3
    chars re-balance it at no cost, the offsets frame stays O(distinct
    prefixes)). Pass a wider prefix or hash-range buckets over the
    counts frame when 3 chars still skew. Neighbor pairs are then ``window−1`` rank-shifted
    key-EQUI joins (one explode of offsets 1..window−1), never a range
    join. The DuckDB mirror (plain ``row_number() OVER (ORDER BY ...)``
    — fine at oracle scale) certifies the whole path cross-engine."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    from pyspark.sql import Window

    key = sort_key if sort_key is not None else normalized_name(F.col(name_col))
    n = df.select(
        F.col(id_col).alias("__id"),
        normalized_name(F.col(name_col)).alias("__norm"),
        key.alias("__key"),
    ).filter(F.col("__norm").isNotNull() & F.col("__key").isNotNull())
    bkt = bucket if bucket is not None else F.substring(F.col("__key"), 1, 3)
    n = n.withColumn("__bkt", bkt)
    # exact global rank = bucket-local row_number + exclusive prefix sum
    # of bucket counts (the counts frame is O(distinct buckets) — tiny)
    counts = n.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__cnt"))
    off_w = (
        Window.orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = counts.select(
        "__bkt",
        (F.sum("__cnt").over(off_w) - F.col("__cnt")).alias("__off"),
    )
    rk_w = Window.partitionBy("__bkt").orderBy("__key", "__id")
    ranked = (
        n.join(F.broadcast(offsets), "__bkt")
        .select(
            "__id",
            "__norm",
            (F.row_number().over(rk_w) + F.col("__off")).alias("__rnk"),
        )
        .localCheckpoint(eager=True)
    )
    right = ranked.select(
        F.col("__id").alias("__idb"),
        F.col("__norm").alias("__normb"),
        F.col("__rnk").alias("__rnkb"),
    )
    return (
        ranked.withColumn(
            "__d", F.explode(F.sequence(F.lit(1), F.lit(window - 1)))
        )
        .withColumn("__rnkb", F.col("__rnk") + F.col("__d"))
        .join(right, "__rnkb")
        # bounded-distance verify (≥ 0 ⟺ distance ≤ max_dist; −1 past it)
        .filter(
            F.levenshtein(F.col("__norm"), F.col("__normb"), max_dist) >= 0
        )
        .select(
            F.least("__id", "__idb").alias("id_a"),
            F.greatest("__id", "__idb").alias("id_b"),
        )
        .distinct()
    )


def sorted_neighborhood_sql(
    table_sql: str, window: int = 4, max_dist: int = 2
) -> str:
    """CTE body mirroring :func:`sorted_neighborhood_pairs` in DuckDB
    over ``table_sql`` producing (id, name): ends in ``verified``
    (ia < ib) — the :func:`_sql_cc_rounds`-compatible pair shape.
    Defaults mirror the Spark side: sort key = normalized name."""
    return f"""
    n AS (SELECT id, trim(lower(name)) AS norm FROM ({table_sql}) t(id, name)
          WHERE trim(lower(name)) IS NOT NULL),
    ranked AS (SELECT id, norm,
                      row_number() OVER (ORDER BY norm, id) AS rnk
               FROM n),
    verified AS (SELECT DISTINCT least(a.id, b.id) AS ia,
                        greatest(a.id, b.id) AS ib
                 FROM ranked a
                 JOIN ranked b ON b.rnk > a.rnk
                              AND b.rnk <= a.rnk + {int(window) - 1}
                 WHERE levenshtein(a.norm, b.norm) <= {int(max_dist)})
    """


def resolve_entities_snm(
    df: DataFrame,
    id_col: str,
    name_col: str,
    window: int = 4,
    max_dist: int = 2,
    sort_key: Column | None = None,
) -> DataFrame:
    """(id, entity) under sorted-neighborhood blocking — the
    hot-block-proof face of :func:`resolve_entities`: same transitive
    CC clustering, same O(matches) output convention, but candidate
    generation is bounded at n·(window−1) pairs by construction.

    Clustering runs the alternating-star variant, not min-label: SNM
    pairs chain along the sort order (adjacent names match adjacent
    names match …), producing exactly the DEEP match graphs where
    min-label pays a round per hop — star contraction collapses any
    chain in O(log n) rounds (the dedup_components_alternating
    docstring's own dichotomy)."""
    from etl_instagram_spark.operators.dedup import (
        dedup_components_alternating,
    )

    pairs = sorted_neighborhood_pairs(
        df, id_col, name_col, window, max_dist, sort_key
    )
    return (
        dedup_components_alternating(pairs)
        .withColumnRenamed("id", id_col)
        .withColumnRenamed("component", "entity")
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block: Column,
    max_dist: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """(id, entity) for every row that MATCHED something — entity is
    the smallest id reachable through the match graph (transitive:
    a~b, b~c puts all three in one entity even when a≁c directly).
    Rows with no match are absent (their entity is their own id), so
    the output stays O(matches), not O(table) — the duplicate_clusters
    convention."""
    pairs = candidate_pairs(
        df, id_col, name_col, block, max_dist, max_block_size
    )
    return dedup_components(pairs).withColumnRenamed("id", id_col).withColumnRenamed(
        "component", "entity"
    )


def incremental_resolve_entities(
    incoming: DataFrame,
    store: MergeTable,
    id_col: str,
    name_col: str,
    block: Column,
    max_dist: int = 2,
    max_block_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Resolve a NEW batch of records against the entity HISTORY — the
    incremental face of :func:`resolve_entities`, sibling of
    dedup.incremental_exact_dedup: the daily delta is linked against a
    compact (block, norm, entity) name table, never by re-scanning or
    re-comparing the full record history.

    Returns ``(assigned, merge_candidates)``:

    - ``assigned``: every incoming row + ``entity`` — the smallest
      historical entity any member of the row's within-batch cluster
      matched (block-equi + levenshtein ≤ max_dist), else the cluster's
      smallest batch id (a NEW entity);
    - ``merge_candidates``: (entity_keep, entity_merge) pairs where one
      batch cluster bridged TWO existing entities. Canonical-adoption
      semantics: the batch adopts ``entity_keep``, and any name the
      BATCH ITSELF touches is re-homed to the adopted (monotone-min)
      entity by the (block, norm) upsert below — but names of the
      non-adopted entity that the batch did NOT touch keep their old
      label until reconciliation, so a bridged entity's names are
      split across two labels in the store until then. Full transitive
      closure is deliberately NOT applied: auto-merging converged
      entities is the classic incremental-ER footgun (one noisy name
      chains unrelated entities), so bridges are surfaced for a
      periodic batch reconciliation (run :func:`resolve_entities` over
      the store's names) instead. This is the documented divergence
      from the batch operator's full transitive closure.

    Store contract: keyed ["block", "norm"] — the history probe rides
    MergeTable.read_overlapping's first-key file pruning, so a tick
    reads only store files whose block range can match the batch:
    O(batch), not O(history). New names upsert by (block, norm);
    replays find their own rows, adopt their own entities, and upsert
    identical rows — a crashed tick re-run converges.

    ``max_block_size`` guards BOTH pair stages: within-batch pairing
    (via :func:`candidate_pairs`) and the history probe — store blocks
    that have accumulated more than ``max_block_size`` distinct norms
    BEYOND the batch's own keys are excluded from the probe join,
    bounding a tick's edit-distance volume at ~batch_rows·cap where a
    degenerate hot block would otherwise cost
    |batch-hot-rows|·|store norms in that block|, growing every tick
    as the store accumulates. Drop semantics with an exact-key carve-
    out: batch rows whose block is store-hot don't adopt historical
    entities via the FUZZY probe (they start new ones) — but a batch
    name whose exact (block, norm) key already exists in the store
    ALWAYS adopts its stored entity, even in a hot block, via a
    separate full-key equi-join (linear, not an edit-distance
    explosion, so the cost bound holds). Without the carve-out the
    (block, norm) upsert would silently re-home an existing name to a
    fresh batch entity, splitting the stored entity (r13 ADVICE). The
    detection count runs over the already-pruned overlapping read —
    O(batch), not O(history).
    The batch's own (block, norm) keys are excluded from the count
    because the tick's upsert writes exactly those keys: counting them
    would flip the hotness predicate between a crashed tick and its
    replay right at the cap boundary; excluded, the predicate is a
    pure function of (store ∖ batch, batch) and replays converge.
    Default ``None`` keeps both paths unguarded."""
    named = incoming.select(
        F.col(id_col),
        normalized_name(F.col(name_col)).alias("__norm"),
        block.alias("__blk"),
    ).filter(F.col("__norm").isNotNull() & F.col("__blk").isNotNull())
    # within-batch clusters; singletons are their own cluster
    matched = resolve_entities(
        incoming, id_col, name_col, block, max_dist, max_block_size
    )
    clustered = (
        named.join(matched, id_col, "left")
        .withColumn("__cluster", F.coalesce("entity", F.col(id_col)))
        .drop("entity")
        .localCheckpoint(eager=True)
    )
    if store.exists():
        hist = store.read_overlapping(
            clustered.select(F.col("__blk").alias("block"))
        ).select(
            F.col("block").alias("__blk"),
            F.col("norm").alias("__hnorm"),
            F.col("entity").alias("__hent"),
        )
        exact_hist = None
        if max_block_size is not None:
            # the probe-side hot-block guard: count over the pruned
            # read (shares its shuffle key), hot keys are ≤
            # |pruned store|/cap rows — a legitimate broadcast.
            # The count EXCLUDES the batch's own (block, norm) keys:
            # the tick's upsert writes exactly those keys, so counting
            # them would let a crashed-then-replayed tick see a
            # DIFFERENT hotness predicate than its first run the
            # moment the batch itself pushed a block across the cap —
            # excluded, the predicate is a pure function of
            # (store ∖ batch, batch) and replays converge.
            batch_keys = clustered.select(
                "__blk", F.col("__norm").alias("__hnorm")
            ).distinct()
            hot = (
                hist.join(batch_keys, ["__blk", "__hnorm"], "left_anti")
                .groupBy("__blk")
                .agg(F.count(F.lit(1)).alias("__hsz"))
                .filter(F.col("__hsz") > max_block_size)
                .select("__blk")
            )
            # exact (block, norm) matches are EXEMPT from the hot
            # exclusion: they rejoin below on the FULL key — a linear
            # equi-join, never an edit-distance explosion — so a name
            # already homed in a hot block keeps its stored entity
            # instead of being re-homed (split) by the upsert.
            exact_hist = hist.join(
                F.broadcast(hot), "__blk", "left_semi"
            ).join(batch_keys, ["__blk", "__hnorm"], "left_semi")
            hist = hist.join(F.broadcast(hot), "__blk", "left_anti")
        matched = (
            clustered.join(hist, "__blk")
            # bounded-distance verify (≥ 0 ⟺ distance ≤ max_dist)
            .filter(
                F.levenshtein(F.col("__norm"), F.col("__hnorm"), max_dist)
                >= 0
            )
            .select("__cluster", "__hent")
        )
        if exact_hist is not None:
            # disjoint from the fuzzy branch by construction: exact_hist
            # holds only HOT-block rows, hist excludes hot blocks.
            matched = matched.unionByName(
                clustered.join(
                    exact_hist.select(
                        "__blk", F.col("__hnorm").alias("__norm"), "__hent"
                    ),
                    ["__blk", "__norm"],
                ).select("__cluster", "__hent")
            )
        hits = matched.groupBy("__cluster").agg(
            F.min("__hent").alias("__adopted"),
            F.collect_set("__hent").alias("__all_hents"),
        )
        merge_candidates = (
            hits.select(
                F.col("__adopted").alias("entity_keep"),
                F.explode("__all_hents").alias("entity_merge"),
            )
            .filter(F.col("entity_keep") != F.col("entity_merge"))
            .distinct()
        )
        assigned = clustered.join(
            hits.select("__cluster", "__adopted"), "__cluster", "left"
        ).withColumn("entity", F.coalesce("__adopted", "__cluster"))
    else:
        assigned = clustered.withColumn("entity", F.col("__cluster"))
        merge_candidates = clustered.select(
            F.col("__cluster").alias("entity_keep"),
            F.col("__cluster").alias("entity_merge"),
        ).limit(0)
    assigned = assigned.localCheckpoint(eager=True)
    store.upsert(
        assigned.select(
            F.col("__blk").alias("block"),
            F.col("__norm").alias("norm"),
            "entity",
        )
        # one row per name; ties broken to the smallest entity so the
        # store row is a deterministic function of the batch
        .groupBy("block", "norm")
        .agg(F.min("entity").alias("entity"))
    )
    # rows whose name/block was NULL never entered resolution: they
    # keep their own id as a singleton entity (name-less records can't
    # match anything, but must not vanish from the output)
    out = incoming.join(
        assigned.select(F.col(id_col), "entity"), id_col, "left"
    ).withColumn("entity", F.coalesce("entity", F.col(id_col)))
    return out, merge_candidates


def canonical_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block: Column,
    max_dist: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Per multi-member entity: (entity, n_members, n_name_variants,
    canonical_name) — the canonical row is the entity label's own row
    (smallest member id). The merge/audit deliverable: how many raw
    rows and spelling variants each resolved entity absorbed."""
    ents = resolve_entities(
        df, id_col, name_col, block, max_dist, max_block_size
    )
    named = ents.join(
        df.select(
            F.col(id_col), normalized_name(F.col(name_col)).alias("__norm")
        ),
        id_col,
    )
    agg = named.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("__norm").alias("n_name_variants"),
    )
    canon = df.select(
        F.col(id_col).alias("entity"),
        normalized_name(F.col(name_col)).alias("canonical_name"),
    )
    return (
        agg.join(canon, "entity")
        .select("entity", "n_members", "n_name_variants", "canonical_name")
        .orderBy(F.col("n_members").desc(), "entity")
    )
