"""Structured Streaming incremental mode (SURVEY §2.9).

The reference is a cron-driven micro-batch pipeline (main.js:35-53):
every run ingests whatever new pages landed, dedups by key, upserts, and
a module-global circuit breaker skips all further runs after a login wall
(posts-from-hashtags.js:14, 361-371). Spark-first mapping:

- landing directory + ``readStream`` (file source tracks processed files
  in the checkpoint — the cron "what's new" bookkeeping for free),
- ``foreachBatch(MergeTable.upsert)`` — the batch upsert operator reused
  verbatim inside the stream; checkpoint + idempotent upsert ⇒
  exactly-once table state across restarts,
- ``Trigger.AvailableNow`` — one cron tick: drain everything available,
  then stop (the engine analogue of main.js:73's run-at-startup),
- watermark + windowed aggregation over event time — NEW engine surface
  (the reference has no event-time semantics) for the events/rates
  tables,
- ``CircuitBreaker`` — E1 as a file-backed flag so separate runs (and a
  restarted driver) observe a trip, same as the reference's
  module-global-until-restart, but durable.

Scale notes: file-source listing is the only driver-side cost; at cluster
scale use ``maxFilesPerTrigger`` to bound micro-batch size and partition
the landing dir by arrival date. State for windowed aggs is bounded by
the watermark horizon.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.operators.merge import MergeTable


class CircuitBreaker:
    """E1: after one trip, every later run is skipped until reset
    (posts-from-hashtags.js:14, 100, 361-363). File-backed so the flag
    survives driver restarts.

    Also tracks which incident types have already been alerted (W9/E2,
    support/email.js:15-21 + is-login-required.js:8-15 parity): the
    reference sends at most one alert email per incident type, then only
    gates. ``alert_once`` is the durable form of that dedup."""

    def __init__(self, path: str):
        self.path = path

    @property
    def _alerts_path(self) -> str:
        return self.path + ".alerts"

    def tripped(self) -> bool:
        return os.path.exists(self.path)

    def trip(self, reason: str) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "w", encoding="utf-8") as f:
            f.write(reason)

    def reason(self) -> str | None:
        if not self.tripped():
            return None
        with open(self.path, encoding="utf-8") as f:
            return f.read()

    def alerted(self, incident_type: str) -> bool:
        if not os.path.exists(self._alerts_path):
            return False
        with open(self._alerts_path, encoding="utf-8") as f:
            return incident_type in set(f.read().splitlines())

    def alert_once(
        self, incident_type: str, sink: Callable[[str], None] | None = None
    ) -> bool:
        """Deliver at most one alert per incident type across runs and
        restarts: if the type was never alerted, invoke ``sink`` and THEN
        durably mark it. Marking only after delivery means a sink that
        raises (transient email/webhook outage) leaves the incident
        unmarked, so the next run retries instead of silently suppressing
        the one alert W9/E2 promises. (The dual is that a crash between
        delivery and marking re-alerts once — at-least-once on failure,
        exactly-once on success, matching support/email.js which has no
        durable dedup at all.) Returns True iff the alert fired."""
        if self.alerted(incident_type):
            return False
        if sink is not None:
            sink(incident_type)
        os.makedirs(os.path.dirname(self._alerts_path) or ".", exist_ok=True)
        with open(self._alerts_path, "a", encoding="utf-8") as f:
            f.write(incident_type + "\n")
        return True

    def reset(self) -> None:
        if self.tripped():
            os.remove(self.path)
        if os.path.exists(self._alerts_path):
            os.remove(self._alerts_path)


def drain(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    checkpoint_dir: str,
    handle: Callable[[DataFrame, int], None],
) -> None:
    """One AvailableNow tick: JSON file stream → foreachBatch(``handle``)
    → block until everything landed is drained. Every incremental entry
    point goes through here so stream-source tuning (e.g.
    maxFilesPerTrigger) lands in one place. An epoch-keyed store is
    maintained by passing its delta as the handle, e.g.
    ``drain(spark, landing, ddl, ckpt,
    lambda b, e: apply_hh_delta(store, b, e, "term"))``.

    Two contracts hold for every handle:

    - the store(s) a handle writes and ``checkpoint_dir`` are a UNIT:
      epoch ids restart at 0 under a fresh checkpoint, so an epoch-keyed
      store relocated or wiped without its checkpoint (or vice versa)
      breaks exactly-once — move them together;
    - the handle sees one micro-batch at a time, so a delta with a
      per-batch completeness contract (:func:`apply_cooc_delta`'s
      complete walks) needs each walk's rows in one landed file, kept
      whole within a micro-batch by any maxFilesPerTrigger-style
      knob."""
    q = (
        spark.readStream.schema(schema_ddl)
        .json(landing_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_upsert(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    table: MergeTable,
    checkpoint_dir: str,
    breaker: CircuitBreaker | None = None,
    on_batch: Callable[[DataFrame, int], None] | None = None,
) -> bool:
    """One incremental tick: drain new JSON files from ``landing_dir``
    into ``table`` via foreachBatch upsert. Returns False when the
    breaker is tripped (run skipped), True after a completed drain.

    Exactly-once: the checkpoint records which files each epoch consumed;
    a re-run after a failure replays the same files, and ``upsert`` is
    idempotent, so replayed batches cannot double-apply.
    """
    if breaker is not None and breaker.tripped():
        return False

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        table.upsert(batch_df)
        if on_batch is not None:
            on_batch(batch_df, epoch_id)

    drain(spark, landing_dir, schema_ddl, checkpoint_dir, handle)
    return True


def apply_changelog_batch(
    table: MergeTable, changes: MergeTable, batch_df: DataFrame, epoch_id: int
) -> None:
    """One CDC tick: upsert ``batch_df`` into ``table`` AND record what
    changed (insert/update per key, with the new row image) in
    ``changes`` — the Delta CHANGE-DATA-FEED shape for downstream
    incremental consumers, on the engine's own merge table.

    The delta is computed BEFORE the upsert is applied, as a pure
    function of (current state, batch): rows the batch inserts, and
    rows it replaces with a different image (an identical re-delivery
    is no change). Construct ``changes`` with key
    ``["epoch", *table.keys]`` and the table's order_by column.

    Exactly-once under replay, by case: crash before the changelog
    write → full recompute; crash between changelog and upsert → the
    replayed delta is identical (table state unchanged), and the
    epoch-keyed upsert into ``changes`` is idempotent; crash after both
    → the replayed delta is EMPTY (the batch no longer changes the
    table), so the recorded changelog rows stand. Cost is O(batch):
    only key-overlapping files are read (read_overlapping), never the
    whole table."""
    from etl_instagram_spark.operators.merge import table_changes, upsert

    batch = batch_df.localCheckpoint(eager=True)  # probe/apply same rows
    if table.exists():
        existing = table.read_overlapping(
            batch.select(*table.keys).distinct()
        ).localCheckpoint(eager=True)
        post = upsert(existing, batch, table.keys, table.order_by)
        delta = table_changes(existing, post, table.keys)
    else:
        from etl_instagram_spark.operators.merge import dedup_latest

        delta = dedup_latest(batch, table.keys, table.order_by).withColumn(
            "_change", F.lit("insert")
        )
    delta = delta.withColumn("epoch", F.lit(int(epoch_id)))
    if not delta.isEmpty():
        changes.upsert(delta)
    table.upsert(batch)


def stream_upsert_with_changelog(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    table: MergeTable,
    changes: MergeTable,
    checkpoint_dir: str,
    breaker: CircuitBreaker | None = None,
) -> bool:
    """``stream_upsert`` plus a change-data feed: every epoch's
    inserts/updates land in ``changes`` keyed by (epoch, table key), so
    downstream consumers sync incrementally instead of re-diffing or
    re-reading the table (see :func:`apply_changelog_batch` for the
    exactly-once argument)."""
    if breaker is not None and breaker.tripped():
        return False

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        apply_changelog_batch(table, changes, batch_df, epoch_id)

    drain(spark, landing_dir, schema_ddl, checkpoint_dir, handle)
    return True


def stream_pages_with_sentinel_gate(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    table: MergeTable,
    dead_letter: MergeTable,
    checkpoint_dir: str,
    breaker: CircuitBreaker,
    html_col: str = "html",
    on_alert: Callable[[str], None] | None = None,
) -> bool:
    """Incremental page ingestion with P11/E1/E3 semantics: clean rows
    upsert into ``table``; sentinel rows land in ``dead_letter`` and trip
    the breaker, so the NEXT tick is skipped (the reference alerts then
    stops scheduling, is-login-required.js:10-12). ``on_alert`` is the
    pluggable alert sink (the support/email.js analogue): invoked at most
    once per incident type across runs via ``breaker.alert_once``.

    Exactly-once dead letters: the write is an UPSERT on the dead-letter
    table's key, so an epoch that retries after the write (foreachBatch
    is at-least-once within an epoch) re-applies the same keys instead of
    appending duplicates; ``epoch_id`` is carried as provenance."""
    from etl_instagram_spark.operators.projections import split_sentinel_pages

    if breaker.tripped():
        # a prior run may have tripped before its alert landed (sink
        # outage): gated runs keep retrying delivery until one succeeds
        if on_alert is not None and (reason := breaker.reason()):
            breaker.alert_once(reason, on_alert)
        return False

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        clean, dead = split_sentinel_pages(batch_df, html_col=html_col)
        table.upsert(clean)
        # one materialization feeds count + upsert + first (the batch is
        # re-derivable, but three actions = three source re-reads)
        dead = dead.localCheckpoint(eager=True)
        if dead.count():
            dead_letter.upsert(dead.withColumn("epoch_id", F.lit(epoch_id)))
            incident = dead.select("sentinel").first()["sentinel"]
            # trip BEFORE alerting: the gate (E1) must engage even when
            # the sink raises; the gated path above retries delivery
            breaker.trip(incident)
            if on_alert is not None:
                breaker.alert_once(incident, on_alert)

    drain(spark, landing_dir, schema_ddl, checkpoint_dir, handle)
    return True


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the engine's
    late-data-tolerant rollup for the events stream. State per key is
    dropped once the watermark passes the window end."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("sum_value"),
        )
    )


def stream_dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: duplicates of a key are
    dropped as long as they arrive within the watermark horizon; state
    for older keys is evicted. The streaming face of the dedup family —
    at-least-once sources (Kafka, retried file drops) become effectively
    exactly-once rows without unbounded key state."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


# ---------------------------------------------------------------------------
# streaming near-dedup: landing dir → dedupe vs signature store → clean table
# ---------------------------------------------------------------------------


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    tolerance: str = "15 minutes",
    watermark: str = "1 hour",
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event
    with the right-side events of the same ``key`` whose timestamp
    falls within ``[left_ts − tolerance, left_ts]`` (the
    click-to-impression attribution shape). Both sides carry the same
    ``watermark``, so the join state store evicts a buffered row once
    the other stream's watermark passes its eligibility window —
    bounded state by construction, the requirement for an unbounded
    run. Works identically on batch frames (the parity tests exploit
    that).

    ``tolerance`` goes through the temporal module's interval validator
    (malformed strings raise before any plan is built), and the join
    condition is assembled from Column operations on the aliased frames
    — column NAMES are never string-formatted into a SQL expression, so
    a hostile ``key``/``left_ts``/``right_ts`` argument cannot splice
    SQL into the condition (it just fails column resolution)."""
    from etl_instagram_spark.operators.temporal import _interval_seconds

    tol = _interval_seconds(tolerance)
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    lo = l[left_ts] - F.expr(f"INTERVAL {tol} SECONDS")
    return l.join(r, (l[key] == r[key]) & r[right_ts].between(lo, l[left_ts]))


def stream_near_dedup(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    store: MergeTable,
    clean_table: MergeTable,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
) -> bool:
    """One AvailableNow tick of the production corpus-dedup loop: drain
    newly landed documents, near-dedup each micro-batch against the
    corpus's WHOLE history via the compact signature store (never the
    historical text — operators/dedup.incremental_near_dedup), and
    upsert the survivors into ``clean_table``.

    Exactly-once composition: a replayed micro-batch's within-batch
    losers lose again, its cross-history losers are already in the
    store, and both the store write and the survivor write are id-keyed
    upserts — so crash replays converge to the same clean table. The
    store, the clean table, and ``checkpoint_dir`` form a UNIT (like
    the continuous-rollup partials): relocate or wipe them together."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        from etl_instagram_spark.operators.dedup import incremental_near_dedup

        survivors = incremental_near_dedup(
            batch_df, store, id_col, text_col, threshold, k, bands
        )
        # incremental_near_dedup returns a deterministic projection of
        # its own eagerly-pinned survivor frame — the upsert's internal
        # re-evaluation pin would be a redundant full materialization
        clean_table.upsert(survivors, assume_pinned=True)

    drain(spark, landing_dir, schema_ddl, checkpoint_dir, handle)
    return True


def stream_semantic_dedup(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    store: MergeTable,
    clean_table: MergeTable,
    checkpoint_dir: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> bool:
    """The embedding-modality sibling of :func:`stream_near_dedup`: one
    AvailableNow tick that SemDeDups each micro-batch against the
    corpus's semantic history via the (cell, unit-vector) store
    (operators/dedup.incremental_semantic_dedup) and upserts survivors
    into ``clean_table``. The quantizer ``centroids`` must be the
    store's frozen fit. Same exactly-once composition and same
    store/clean/checkpoint relocation unit as the text face."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        from etl_instagram_spark.operators.dedup import incremental_semantic_dedup

        survivors = incremental_semantic_dedup(
            batch_df, store, id_col, vec_col, centroids, threshold
        )
        clean_table.upsert(survivors)

    drain(spark, landing_dir, schema_ddl, checkpoint_dir, handle)
    return True


def stream_profile_drift(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    profile_table: MergeTable,
    checkpoint_dir: str,
    breaker: CircuitBreaker,
    cols: list[str] | None = None,
    max_null_frac_delta: float = 0.2,
    on_alert: Callable[[str], None] | None = None,
    shape_col: str | None = None,
    dcm_store: MergeTable | None = None,
    max_median_rel_delta: float = 0.5,
) -> bool:
    """Continuous data-quality monitoring: profile each micro-batch
    (operators/profiling.profile_columns — one scan, O(columns) rows),
    diff it against the STORED profile of the previous batch, raise an
    at-most-once alert per column whose null fraction jumped more than
    ``max_null_frac_delta``, then upsert the new profile as the next
    baseline (keyed by column, so the store stays O(columns) forever).

    Replay safety comes from composition, not bookkeeping: re-profiling
    the same batch is deterministic, the keyed upsert is idempotent, and
    alert delivery rides the breaker's incident store (W9 semantics,
    E2) — a replayed drift fires ``alert_once`` with the same incident
    key and is swallowed.

    DISTRIBUTION-SHAPE drift (r13, the dyadic-CM continuous face):
    pass ``shape_col`` (an integer column in the sketch's [0, 2^b)
    domain — scale to cents/millis first, the events_dcm_quantiles
    convention) plus an epoch-keyed ``dcm_store``. Each tick folds the
    batch's quantile registers via :func:`apply_dcm_delta`, then
    compares THIS EPOCH's median (its own register rows) against the
    HISTORICAL median (every other epoch's rows) — both are epoch-key
    filters over the store, so a replayed epoch sees the identical
    pair and re-raises the same swallowed incident key. A relative gap
    beyond ``max_median_rel_delta`` alerts once per column. The
    batch-vs-history comparison keeps its sensitivity as the stream
    ages (a cumulative-including-vs-excluding diff would attenuate
    with history mass and could never trip on a long stream); the
    history side needs no re-sort — it is answered from register state
    alone. Run :func:`compact_dcm_store` periodically to collapse old
    epochs; the history median is invariant under the compaction."""
    from etl_instagram_spark.operators.profiling import profile_columns, profile_drift

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        prof = profile_columns(batch_df, cols).localCheckpoint(eager=True)
        if profile_table.exists():
            drift = profile_drift(profile_table.read(), prof)
            breaches = drift.filter(
                F.abs(F.col("null_frac_delta")) > max_null_frac_delta
            ).collect()  # bounded: at most one row per column
            for r in breaches:
                breaker.alert_once(f"null_drift:{r['column']}", on_alert)
        profile_table.upsert(prof.withColumn("epoch_id", F.lit(epoch_id)))
        if shape_col is not None and dcm_store is not None:
            from etl_instagram_spark.operators.sketches import (
                dcm_merge,
                dcm_quantiles_driver,
            )

            apply_dcm_delta(dcm_store, batch_df, epoch_id, shape_col)
            # history/batch medians via the driver-side descent: ONE
            # collect of the merged register frame (bounded at
            # 2·d·w·b rows by construction) instead of b sequential
            # distributed probe rounds per tick — same integers,
            # pinned equal to the distributed descent by test
            both = dcm_merge(
                dcm_store.read().withColumn(
                    "__which",
                    F.when(
                        F.col("epoch_id") == epoch_id, F.lit("batch")
                    ).otherwise(F.lit("history")),
                ),
                ["__which"],
            )
            meds = {
                r["__which"]: int(r["q_value"])
                for r in dcm_quantiles_driver(both, [(1, 2)], ["__which"])
                if r["n"]
            }
            hist_med, batch_med = meds.get("history"), meds.get("batch")
            if (
                hist_med is not None
                and batch_med is not None
                and abs(batch_med - hist_med)
                > max_median_rel_delta * max(hist_med, 1)
            ):
                breaker.alert_once(f"shape_drift:{shape_col}", on_alert)

    drain(spark, landing_dir, schema_ddl, checkpoint_dir, handle)
    return True


def stream_ann_index(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    index_table: MergeTable,
    checkpoint_dir: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Incremental IVFADC index maintenance: one AvailableNow tick that
    stamps each micro-batch of vectors with (cell, PQ code) under the
    FROZEN quantizers and upserts the compact rows into ``index_table``
    (operators/similarity.ann_index_rows). Because both quantizers are
    driver-fit literals, stamping is a pure projection — re-ingesting an
    id yields byte-identical rows, so the keyed upsert makes replay
    idempotent and the index never needs a rebuild under append.
    Queries (ann_ivfpq_topk) read the table's stored cell/code columns
    and stay pruned regardless of how many ticks built it."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        from etl_instagram_spark.operators.similarity import ann_index_rows

        index_table.upsert(
            ann_index_rows(batch_df, centroids, codebooks, vec_col, id_col)
        )

    drain(spark, landing_dir, schema_ddl, checkpoint_dir, handle)
    return True


# ---------------------------------------------------------------------------
# continuous aggregate: incrementally maintained hypertable rollup
# ---------------------------------------------------------------------------


def apply_rollup_delta(
    partials: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    ts_col: str = "ts",
    grain: str = "hour",
    dims: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> None:
    """Fold one micro-batch into the finest-grain partials table.

    The delta is the batch's (bucket, *dims) partial sums, KEYED BY
    (epoch_id, bucket, *dims): an epoch replay after a crash upserts the
    same rows over themselves (latest-wins) instead of double-adding —
    additive merge would break the module's exactly-once contract, since
    foreachBatch epochs can re-fire. Collapsing epochs is the reader's
    (or compaction's) job; partial rows are O(groups per epoch), tiny.

    Epoch keying is exactly-once only WITHIN one checkpoint lineage:
    epoch ids restart at 0 under a fresh checkpoint, so the partials
    table and its stream checkpoint are a unit — wipe or relocate them
    TOGETHER, never one without the other.

    The maintenance ``grain`` is stamped on every row;
    ``continuous_rollup_read`` validates its requested finest grain
    against it (a finer read would silently mislabel coarse buckets) —
    keep the maintenance grain/dims constant per table. Drained per
    tick (:func:`drain`), the expensive raw-event scan happens ONCE per
    event, at ingest; every later multi-grain read touches only the
    partials — operators/temporal.hypertable_rollup's scan stage
    amortized across the table's whole life."""
    delta = (
        batch_df.groupBy(
            F.date_trunc(grain, F.col(ts_col)).alias("bucket"), *dims
        )
        .agg(
            F.count(F.lit(1)).alias("__rc"),
            F.sum(value_col).alias(f"__sum_{value_col}"),
        )
        .withColumn("epoch_id", F.lit(int(epoch_id)))
        .withColumn("grain", F.lit(grain))
    )
    partials.upsert(delta)


def _guard_watermark(stored: DataFrame, through_epoch: int) -> None:
    """Refuse a compaction watermark at or above the newest epoch in
    ``stored`` (see :func:`compact_rollup_partials` for why)."""
    mx = stored.agg(F.max("epoch_id").alias("m")).first()["m"]
    if mx is None or through_epoch >= mx:
        raise ValueError(
            f"through_epoch must be < the newest epoch present ({mx}); "
            f"got {through_epoch} — the latest epoch may still re-fire"
        )


def _compact_epochs(
    store: MergeTable,
    through_epoch: int,
    merge: Callable[[DataFrame], DataFrame],
) -> int:
    """The watermark compaction every epoch-keyed store shares: guard
    the watermark, fold the rows at or below it through the store's
    ``merge`` algebra, re-key the result at ``through_epoch`` and
    rewrite kept ∪ merged in ONE overwrite. Returns rows eliminated
    (0, with no rewrite, when nothing sits at or below the watermark)."""
    stored = store.read()
    _guard_watermark(stored, through_epoch)
    old = stored.filter(F.col("epoch_id") <= through_epoch)
    n_old = old.count()
    if n_old == 0:
        return 0
    merged = merge(old).withColumn("epoch_id", F.lit(int(through_epoch)))
    keep = stored.filter(F.col("epoch_id") > through_epoch)
    n_merged = merged.count()
    store.overwrite(keep.unionByName(merged.select(*keep.columns)))
    return n_old - n_merged


def compact_rollup_partials(
    partials: MergeTable,
    through_epoch: int,
    dims: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> int:
    """Collapse every partial row with ``epoch_id <= through_epoch``
    into ONE row per (bucket, *dims), re-keyed at ``through_epoch``.
    Without compaction the epoch-keyed partials grow forever — O(groups
    × epochs) — and every read re-collapses all of them; after
    compaction history is O(groups) and reads only fold the recent tail.

    Safety contract (why this cannot break exactly-once):

    - ``through_epoch`` must be STRICTLY below the newest epoch in the
      table (enforced). foreachBatch only ever re-fires the latest
      not-yet-committed batch, and a later epoch's presence proves every
      epoch <= through_epoch committed — so no compacted epoch can
      replay, and the re-keyed row's (through_epoch, bucket, *dims) key
      can never be hit by an incoming delta again. A replay of the
      LATEST epoch touches keys above ``through_epoch`` and upserts
      over itself exactly as before.
    - The rewrite is ONE atomic overwrite commit (new files + pointer
      swap): a crash mid-compaction leaves the previous snapshot intact.
    - Compaction is re-runnable: a later compact at a higher watermark
      folds the earlier compacted row in like any other partial.

    Returns the number of rows eliminated."""
    sum_col = f"__sum_{value_col}"
    return _compact_epochs(
        partials,
        through_epoch,
        lambda old: old.groupBy("bucket", *dims).agg(
            F.sum("__rc").alias("__rc"),
            F.sum(sum_col).alias(sum_col),
            F.min("grain").alias("grain"),
        ),
    )


def continuous_rollup_read(
    partials: MergeTable,
    grains: Sequence[str],
    dims: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Multi-grain rollup from the maintained partials: collapse epochs
    to finest-grain totals, then reuse hypertable_rollup's grain fan-out
    with the partial columns as pre-summed measures. Output schema
    matches the batch rollup — (grain, bucket, *dims, n_rows,
    sum_{value_col}) — and the parity test pins equality with
    hypertable_rollup over the raw events."""
    from etl_instagram_spark.operators.temporal import hypertable_rollup

    sum_col = f"__sum_{value_col}"
    stored = partials.read()
    maintained = [r["grain"] for r in stored.select("grain").distinct().collect()]
    if len(maintained) != 1:
        raise ValueError(f"partials table maintained at mixed grains {sorted(maintained)}")
    if grains and grains[0] != maintained[0]:
        raise ValueError(
            f"finest requested grain {grains[0]!r} != maintenance grain "
            f"{maintained[0]!r} — a finer read would mislabel coarse buckets"
        )
    collapsed = (
        stored.groupBy("bucket", *dims)
        .agg(F.sum("__rc").alias("__rc"), F.sum(sum_col).alias(sum_col))
    )
    return hypertable_rollup(
        collapsed,
        "bucket",
        list(grains),
        dims=list(dims),
        measures={"__rc": ["sum"], sum_col: ["sum"]},
        row_count=None,
    ).select(
        "grain",
        "bucket",
        *dims,
        F.col("sum___rc").alias("n_rows"),
        F.col(f"sum_{sum_col}").alias(f"sum_{value_col}"),
    )


# ---------------------------------------------------------------------------
# continuous heavy hitters: incrementally maintained frequent-terms summary
# ---------------------------------------------------------------------------

# reserved term_key for the per-epoch total row (real terms are raw token
# strings; a NUL byte cannot survive the tokenizers, and NULL itself is
# unusable as an upsert key — null keys never match a join)
HH_TOTAL_KEY = "\x00total"


def apply_hh_delta(
    store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    term_col: str = "term",
    weight_col: str | None = None,
) -> None:
    """Fold one micro-batch into the heavy-hitters summary store.

    The delta is the batch's EXACT per-term counts plus one total row,
    KEYED BY (epoch_id, term_key) — exact-and-deterministic on purpose:
    a Misra-Gries pass over the batch would be smaller but its counter
    set depends on row order, so a foreachBatch replay could write a
    DIFFERENT summary for the same epoch and latest-wins upsert would
    strand the first attempt's leftover terms. Exact per-batch counts
    replay to identical rows (the same exactly-once contract as
    apply_rollup_delta); an exact count is also a valid zero-error MG
    summary, so read-time merging stays inside the mergeability bound.

    ``weight_col`` switches the delta to WEIGHTED counts: each row
    contributes its positive-int64 weight instead of 1 (NULL/zero/
    negative raise inside the scan — the cm_sketch convention), so
    heavy_hitters_read answers "which terms hold ≥ num/den of the total
    WEIGHT" (tokens per domain, spend per account) incrementally. An
    integer-weighted sum is still exact and deterministic, and MG's
    averaging argument is weight-agnostic, so every read/compact
    guarantee carries over with n = total weight.

    Per-epoch rows are O(distinct terms in the batch) — bounded by batch
    size, not corpus size; compact_hh_summaries keeps total history
    O(capacity)."""
    if weight_col is None:
        measure = F.count(F.lit(1))
    else:
        wv = F.col(weight_col).cast("long")
        checked = F.when(
            wv.isNull() | (wv <= 0),
            F.raise_error(
                F.concat(
                    F.lit("apply_hh_delta: weight must be a positive int64, got "),
                    F.coalesce(wv.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        ).otherwise(wv)
        measure = F.sum(checked)
    named = batch_df.filter(F.col(term_col).isNotNull())
    # lazily pinned: the union branch AND the total row both read the
    # per-term delta; deriving the total from the delta (Σ per-term
    # weights ≡ the batch total, exactly — integer arithmetic over the
    # same non-null rows) saves a SECOND full scan of the landed batch
    # per tick (r19; the old shape aggregated the JSON batch twice)
    delta = (
        named.groupBy(F.col(term_col).alias("term_key"))
        .agg(measure.cast("long").alias("weight"))
        .withColumn("n_part", F.lit(None).cast("long"))
        .localCheckpoint(eager=False)
    )
    # coalesce(…, 0): an all-null/empty batch must still write n_part=0
    # (the old direct count did), not NULL
    total = delta.agg(
        F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("n_part")
    ).select(
        F.lit(HH_TOTAL_KEY).alias("term_key"),
        F.lit(None).cast("long").alias("weight"),
        "n_part",
    )
    store.upsert(
        delta.unionByName(total).withColumn("epoch_id", F.lit(int(epoch_id)))
    )


def _store_to_summary(rows: DataFrame) -> DataFrame:
    """Store rows → operators.frequency summary shape (term NULL on
    total rows)."""
    return rows.select(
        F.when(F.col("term_key") == HH_TOTAL_KEY, F.lit(None))
        .otherwise(F.col("term_key"))
        .alias("term"),
        "weight",
        "n_part",
    )


def heavy_hitters_read(
    store: MergeTable,
    capacity: int,
    support_num: int,
    support_den: int,
) -> DataFrame:
    """Frequent terms over EVERYTHING the store has absorbed, without
    rescanning any history: merge the epoch summaries (mergeable-MG
    trim to ``capacity`` counters — operators.frequency.mg_merge) and
    report every term whose count COULD reach support num/den.

    Semantics (capacity must satisfy capacity+1 > den/num):
    - complete: a term with true share ≥ num/den has merged weight
      ≥ f − n/(capacity+1) > 0, so it is present and reported — no
      false negatives;
    - bounded: true count ∈ [weight_lo, weight_hi] with
      weight_hi − weight_lo = floor(n/(capacity+1)); near-threshold
      false positives are possible (they carry honest bounds). A caller
      needing the exact answer runs operators.frequency.heavy_hitters
      over raw history — this face is the O(1)-state approximation the
      100-TB stream maintains continuously."""
    # integer cross-multiply: float den/num could round either way on
    # awkward ratios and mis-gate a boundary capacity
    if (capacity + 1) * support_num <= support_den:
        raise ValueError(
            "capacity+1 must exceed den/num or true heavy hitters can "
            "fall out of the merged summary"
        )
    from etl_instagram_spark.operators.frequency import mg_merge

    # lazy pin (r20): the total-weight collect below is the first
    # consumer and materializes the merged summary; the returned frame
    # then reads the pinned blocks — same one materialization as
    # eager=True, one fewer job barrier per read
    merged = mg_merge(_store_to_summary(store.read()), capacity)
    merged = merged.localCheckpoint(eager=False)
    n = merged.filter(F.col("term").isNull()).agg(F.sum("n_part")).collect()[0][0] or 0
    if n * max(support_num, support_den) >= 2**63:
        raise ValueError(
            "heavy_hitters_read: total weight W * max(num, den) overflows "
            f"int64 (W={n}, num={support_num}, den={support_den}); the "
            "integer threshold must fit in BIGINT (the batch-face "
            "heavy_hitters bound, which weighted streams can reach)"
        )
    slack = n // (capacity + 1)
    return (
        merged.filter(F.col("term").isNotNull())
        .select(
            "term",
            F.col("weight").alias("weight_lo"),
            (F.col("weight") + slack).alias("weight_hi"),
        )
        .filter(F.col("weight_hi") * support_den >= F.lit(n) * support_num)
    )


def compact_hh_summaries(
    store: MergeTable, through_epoch: int, capacity: int
) -> int:
    """Collapse every summary row with ``epoch_id <= through_epoch``
    into ONE merged ≤``capacity``-counter summary re-keyed at
    ``through_epoch`` (one atomic overwrite). Same safety contract as
    compact_rollup_partials: the watermark must sit strictly below the
    newest epoch (which proves everything at or below it committed and
    can never re-fire), so the re-keyed rows are final. After
    compaction, history is O(capacity) + the recent exact tail, and the
    merged summary keeps the n/(capacity+1) error bound (trimming is
    how mergeable summaries compose). Returns rows eliminated."""
    from etl_instagram_spark.operators.frequency import mg_merge

    return _compact_epochs(
        store,
        through_epoch,
        lambda old: mg_merge(_store_to_summary(old), capacity).select(
            F.coalesce(F.col("term"), F.lit(HH_TOTAL_KEY)).alias("term_key"),
            "weight",
            "n_part",
        ),
    )


# ---------------------------------------------------------------------------
# continuous k-means sufficient statistics: incrementally maintained
# centroid sums under a frozen assignment quantizer
# ---------------------------------------------------------------------------


def apply_kmeans_delta(
    store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    quant_dp: int = 6,
) -> None:
    """Fold one micro-batch of vectors into a per-cell sufficient-
    statistics store: rows keyed (epoch_id, cell) carrying (n, per-dim
    long micro-unit sums) under a FROZEN assignment quantizer — the
    exactly-once epoch-keyed-upsert pattern of apply_rollup_delta
    applied to operators/clustering's integer-sum discipline. A replay
    upserts the same rows over themselves instead of double-adding.

    Freezing the assignment centroids is what makes the statistics
    additive across batches (mini-batch k-means re-assigns per batch
    and its sums are NOT mergeable); refresh the quantizer by reading
    the accumulated mean (:func:`kmeans_read_centroids`), re-stamping,
    and starting a new store/checkpoint pair — the same
    frozen-quantizer contract as stream_ann_index."""
    from etl_instagram_spark.operators.clustering import _elem
    from etl_instagram_spark.operators.similarity import ivf_cell

    dim = len(centroids[0])
    scale = 10**quant_dp
    delta = (
        batch_df.select(ivf_cell(vec_col, centroids).alias("cell"), vec_col)
        .where(F.col("cell").isNotNull())
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.floor(F.expr(_elem(vec_col, d + 1)) * scale)
                ).alias(f"s{d}")
                for d in range(dim)
            ],
        )
        .withColumn("epoch_id", F.lit(int(epoch_id)))
    )
    store.upsert(delta)


def kmeans_read_centroids(
    store: MergeTable,
    centroids: list[list[float]],
    quant_dp: int = 6,
) -> list[list[float]]:
    """The refined centroids implied by EVERYTHING the store has
    absorbed: collapse epochs to per-cell totals (exact integer sums —
    order- and batch-split-independent) and apply the same Python
    ``(sum/scale)/n`` division refine_centroids uses. Cells that never
    received a vector keep their frozen centroid. Equivalent to ONE
    batch Lloyd's iteration over the concatenation of every batch —
    pinned by test against refine_centroids on the union."""
    dim = len(centroids[0])
    scale = 10**quant_dp
    rows = (
        store.read()
        .groupBy("cell")
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(f"s{d}").alias(f"s{d}") for d in range(dim)],
        )
        .collect()
    )
    cur = [[float(x) for x in c] for c in centroids]
    for r in rows:
        if r["n"]:
            cur[r["cell"]] = [
                (r[f"s{d}"] / scale) / r["n"] for d in range(dim)
            ]
    return cur


# ---------------------------------------------------------------------------
# continuous DSIR: incrementally maintained raw-corpus feature counts
# ---------------------------------------------------------------------------


def apply_dsir_delta(
    store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    n_buckets: int,
    text_col: str = "text",
) -> None:
    """Fold one micro-batch of raw documents into an epoch-keyed
    hashed-ngram count store: rows keyed (epoch_id, bucket) carrying the
    batch's per-bucket feature-occurrence counts — the exactly-once
    upsert pattern of apply_rollup_delta applied to operators/dsir's
    feature space. Counts are integers, so epoch rows merge exactly
    under any batch split; a replay upserts the same rows over
    themselves. State is O(epochs · n_buckets); collapse old epochs with
    the compact_rollup_partials rewrite if epoch count ever matters."""
    from etl_instagram_spark.operators.dsir import hashed_ngram_features

    delta = (
        batch_df.select(
            F.explode(
                hashed_ngram_features(F.col(text_col), n_buckets)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("epoch_id", F.lit(int(epoch_id)))
    )
    store.upsert(delta)


def dsir_read_model(
    store: MergeTable,
    target_counts: dict[int, int],
    n_buckets: int,
):
    """The importance-ratio model implied by EVERYTHING the store has
    absorbed: collapse epochs to per-bucket totals (exact integer sums —
    order- and batch-split-independent; at most ``n_buckets`` rows reach
    the driver) and run the same pure
    :func:`~etl_instagram_spark.operators.dsir.dsir_model_from_counts`
    math against the FIXED target-domain counts. Equivalent to one
    batch :func:`~etl_instagram_spark.operators.dsir.fit_dsir` over the
    concatenation of every batch — pinned by test."""
    from etl_instagram_spark.operators.dsir import dsir_model_from_counts

    rows = store.read().groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    raw = {int(r["bucket"]): int(r["n"]) for r in rows}
    return dsir_model_from_counts(raw, target_counts, n_buckets)


def apply_hll_delta(
    store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    value_col: str,
    group_cols: list[str] | None = None,
    b: int = 12,
) -> None:
    """Fold one micro-batch into an epoch-keyed HLL register store:
    rows keyed (epoch_id, group…, bucket) carrying the batch's max rank
    per bucket (operators/sketches.hll_registers). The register algebra
    does the exactly-once work: max is idempotent/commutative/
    associative, so ANY batch split yields the same merged registers
    and a replay upserts identical rows over themselves — this store
    needs no delta arithmetic at all, unlike the count-valued rollup/
    heavy-hitter stores. State is O(epochs · groups · 2^b)."""
    from etl_instagram_spark.operators.sketches import hll_registers

    delta = hll_registers(batch_df, value_col, group_cols, b).withColumn(
        "epoch_id", F.lit(int(epoch_id))
    )
    store.upsert(delta)


def apply_cm_delta(
    store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    value_col: str,
    group_cols: list[str] | None = None,
    w: int = 1024,
    d: int = 4,
    weight_col: str | None = None,
) -> None:
    """Fold one micro-batch into an epoch-keyed count-min register
    store: rows keyed (epoch_id, group…, j, col) carrying the BATCH'S
    counter values (operators/sketches.cm_sketch). Sum-merge is not
    idempotent, so exactly-once rides the epoch key — a replayed epoch
    recomputes the identical counters and upserts them over themselves
    (the rollup-delta pattern, unlike HLL's max-algebra store). State
    is O(epochs · groups · d·w); compact with the collapse-and-rekey
    rewrite if epoch count ever matters. ``weight_col`` folds WEIGHTED
    counters (continuous per-key totals) — same exactly-once shape,
    since weighted registers are as deterministic per batch as
    unweighted ones."""
    from etl_instagram_spark.operators.sketches import cm_sketch

    delta = cm_sketch(
        batch_df, value_col, group_cols, w, d, weight_col=weight_col
    ).withColumn("epoch_id", F.lit(int(epoch_id)))
    store.upsert(delta)


def cm_read_registers(
    store: MergeTable, group_cols: list[str] | None = None
) -> DataFrame:
    """Collapse the epoch-keyed CM store to ONE register set (sum over
    epochs per counter) — the frame operators/sketches.cm_lookup
    expects. Pure algebra: the collapsed sketch equals the sketch of
    the full stream, for any batch split."""
    from etl_instagram_spark.operators.sketches import cm_merge

    return cm_merge(store.read(), group_cols)


def apply_dcm_delta(
    store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    value_col: str,
    group_cols: list[str] | None = None,
    w: int | None = None,
    d: int | None = None,
    b: int | None = None,
    weight_col: str | None = None,
) -> None:
    """Fold one micro-batch into an epoch-keyed DYADIC-CM quantile
    register store (operators/sketches.dcm_sketch): rows keyed
    (epoch_id, group…, lvl, j, col) carrying the batch's counters.
    Identical exactly-once shape to :func:`apply_cm_delta` (sum-merge
    is not idempotent → replay rides the epoch key); the collapsed
    store answers rank/quantile probes over the WHOLE stream so far —
    continuous percentile monitoring without re-sorting history. The
    store grows one register set per epoch (O(epochs · d·w·b) rows);
    run :func:`compact_dcm_store` periodically to fold committed
    epochs back to O(d·w·b) — sum-merge makes every read invariant
    under it.

    Defaults come from the canonical DCM_W/DCM_D/DCM_B constants (not
    re-hardcoded literals) so a constants change can never silently
    build stream registers incompatible with batch-built sketches."""
    from etl_instagram_spark.operators.sketches import (
        DCM_B,
        DCM_D,
        DCM_W,
        dcm_sketch,
    )

    w = DCM_W if w is None else w
    d = DCM_D if d is None else d
    b = DCM_B if b is None else b
    delta = dcm_sketch(
        batch_df, value_col, group_cols, w, d, b, weight_col=weight_col
    ).withColumn("epoch_id", F.lit(int(epoch_id)))
    store.upsert(delta)


def compact_dcm_store(
    store: MergeTable,
    through_epoch: int,
    group_cols: list[str] | None = None,
) -> int:
    """Collapse every dcm register row with ``epoch_id <=
    through_epoch`` into one register set re-keyed at
    ``through_epoch`` — the :func:`compact_rollup_partials` contract,
    verbatim: without compaction the epoch-keyed store grows
    O(epochs · d·w·b) and every read re-collapses all of it; after,
    history is O(d·w·b) per group and reads fold only the recent
    tail. Same safety argument (``through_epoch`` strictly below the
    newest epoch — enforced — so no compacted epoch can re-fire; one
    atomic overwrite; re-runnable at a higher watermark), and every
    read face (:func:`dcm_read_registers`, the
    :func:`stream_profile_drift` history median) is invariant under
    it because counters merge by SUM. Returns rows eliminated."""
    from etl_instagram_spark.operators.sketches import dcm_merge

    g = list(group_cols or [])
    return _compact_epochs(store, through_epoch, lambda old: dcm_merge(old, g))


def dcm_read_registers(
    store: MergeTable, group_cols: list[str] | None = None
) -> DataFrame:
    """Collapse the epoch-keyed dyadic-CM store to one register set —
    the frame operators/sketches.dcm_rank / dcm_quantiles expect."""
    from etl_instagram_spark.operators.sketches import dcm_merge

    return dcm_merge(store.read(), group_cols)


def hll_read_summary(
    store: MergeTable, group_cols: list[str] | None = None, b: int = 12
) -> DataFrame:
    """The distinct-count summary implied by EVERYTHING the store has
    absorbed: max-merge registers across epochs, then the same exact
    integer harmonic sum + folded-constant estimate as the batch
    operator — equal row-for-row to one batch hll_summary over the
    concatenation of every batch (pinned by test)."""
    from etl_instagram_spark.operators.sketches import (
        hll_estimate_expr,
        hll_merge,
    )

    g = list(group_cols or [])
    merged = hll_merge(store.read().select(*g, "bucket", "r"), g)
    hit, sum_scaled, est = hll_estimate_expr(b)
    return merged.groupBy(*g).agg(hit, sum_scaled, est)


def compact_hll_store(
    store: MergeTable,
    through_epoch: int,
    group_cols: list[str] | None = None,
) -> int:
    """Collapse every HLL register row with ``epoch_id <=
    through_epoch`` into one register set re-keyed at ``through_epoch``
    — the :func:`compact_dcm_store` contract on the max-algebra store:
    without compaction the epoch-keyed state grows O(epochs · groups ·
    2^b) and every read max-merges all of it. The idempotent algebra
    makes this compaction STRICTLY safer than the sum-store ones —
    even a re-fired compacted epoch would merge harmlessly — but the
    same strictly-below-the-newest-epoch guard is enforced for
    uniformity of the store contract. Every read
    (:func:`hll_read_summary`) is invariant because registers merge by
    max. Returns rows eliminated."""
    from etl_instagram_spark.operators.sketches import hll_merge

    g = list(group_cols or [])
    return _compact_epochs(
        store, through_epoch, lambda old: hll_merge(old.select(*g, "bucket", "r"), g)
    )


def apply_kmv_delta(
    store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> None:
    """Fold one micro-batch into an epoch-keyed KMV k-set store: rows
    keyed (epoch_id, group…, h) carrying the batch's k smallest
    distinct hashes (operators/kmv.kmv_sketch). Like the HLL register
    store — and unlike the count-valued CM/dcm stores — the sketch
    algebra does the exactly-once work: k-smallest-of-union is
    idempotent/commutative/associative, so any batch split merges to
    the same k-set and a replayed epoch upserts identical rows over
    themselves. State is O(epochs · groups · k)."""
    from etl_instagram_spark.operators.kmv import kmv_sketch

    delta = kmv_sketch(batch_df, value_col, group_cols, k).withColumn(
        "epoch_id", F.lit(int(epoch_id))
    )
    store.upsert(delta)


def compact_kmv_store(
    store: MergeTable,
    through_epoch: int,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> int:
    """Collapse every KMV k-set row with ``epoch_id <= through_epoch``
    into one k-set re-keyed at ``through_epoch`` — the
    :func:`compact_hll_store` twin on the k-smallest-of-union algebra:
    idempotent merge makes every read (:func:`kmv_read_sketch`,
    :func:`kmv_read_summary`, and any overlap built on them) invariant
    under compaction, and even a re-fired compacted epoch merges
    harmlessly; the strictly-below-the-newest-epoch guard is kept for
    uniformity of the store contract. Returns rows eliminated."""
    from etl_instagram_spark.operators.kmv import kmv_merge

    g = list(group_cols or [])
    return _compact_epochs(
        store, through_epoch, lambda old: kmv_merge(old.select(*g, "h"), g, k)
    )


def kmv_read_sketch(
    store: MergeTable, group_cols: list[str] | None = None, k: int = 256
) -> DataFrame:
    """Collapse the epoch-keyed KMV store to ONE k-set per group — the
    frame operators/kmv.kmv_overlap (and the summary face below)
    expect: k smallest of the deduped union across epochs."""
    from etl_instagram_spark.operators.kmv import kmv_merge

    g = list(group_cols or [])
    return kmv_merge(store.read().select(*g, "h"), g, k)


def kmv_read_summary(
    store: MergeTable, group_cols: list[str] | None = None, k: int = 256
) -> DataFrame:
    """The distinct-count summary implied by EVERYTHING the store has
    absorbed — equal row-for-row to one batch kmv_summary over the
    concatenation of every batch (pinned by test)."""
    from etl_instagram_spark.operators.kmv import kmv_estimate_expr

    g = list(group_cols or [])
    merged = kmv_read_sketch(store, g, k)
    k_used, kth_min, est = kmv_estimate_expr(k)
    return merged.groupBy(*g).agg(k_used, kth_min, est)


def apply_wkmv_delta(
    store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    id_col: str,
    weight_col: str,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> None:
    """Fold one micro-batch into an epoch-keyed WEIGHTED-sample state
    store: rows keyed (epoch_id, group…, h) carrying (id, weight) —
    the batch's bottom-(k+1) priority-rank rows
    (operators/kmv.kmv_weighted_state). Like the k-set and HLL stores
    — and unlike the count-valued CM/rollup stores — the algebra does
    the exactly-once work: bottom-(k+1) selection by a total order is
    idempotent/commutative/associative, so any batch split merges to
    the same state, re-seeing an id dedups harmlessly, and a replayed
    epoch upserts identical rows over themselves. State is
    O(epochs · groups · (k+1))."""
    from etl_instagram_spark.operators.kmv import kmv_weighted_state

    delta = kmv_weighted_state(
        batch_df, id_col, weight_col, group_cols, k
    ).withColumn("epoch_id", F.lit(int(epoch_id)))
    store.upsert(delta)


def kmv_weighted_read_sample(
    store: MergeTable,
    id_col: str,
    weight_col: str,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """The weighted sample + est_weight implied by EVERYTHING the
    store has absorbed — row-identical to one batch
    kmv_weighted_sample over the concatenation of every batch (pinned
    by test): merge the epoch states (loud on a cross-epoch weight
    mutation), then the shared read face."""
    from etl_instagram_spark.operators.kmv import (
        kmv_weighted_sample_from_state,
        kmv_weighted_state_merge,
    )

    g = list(group_cols or [])
    merged = kmv_weighted_state_merge(
        store.read().select(*g, id_col, weight_col, "h"),
        id_col,
        weight_col,
        g,
        k,
    )
    return kmv_weighted_sample_from_state(merged, id_col, weight_col, g, k)


def compact_wkmv_store(
    store: MergeTable,
    through_epoch: int,
    id_col: str,
    weight_col: str,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> int:
    """Collapse every state row with ``epoch_id <= through_epoch``
    into one merged bottom-(k+1) re-keyed at ``through_epoch`` — the
    compact_kmv_store twin on the selection algebra: idempotent merge
    makes every read invariant, and even a re-fired compacted epoch
    merges harmlessly. Returns rows eliminated."""
    from etl_instagram_spark.operators.kmv import kmv_weighted_state_merge

    g = list(group_cols or [])
    return _compact_epochs(
        store,
        through_epoch,
        lambda old: kmv_weighted_state_merge(
            old.select(*g, id_col, weight_col, "h"), id_col, weight_col, g, k
        ),
    )


def apply_bm25_delta(
    postings_store: MergeTable,
    corpus_store: MergeTable,
    batch_df: DataFrame,
    epoch_id: int,
    id_col: str,
    text_col: str,
) -> None:
    """Fold one micro-batch of NEW documents into an epoch-keyed BM25
    inverted-index store pair (the batch build: operators/retrieval.
    build_bm25_index — this face removes its full-rebuild requirement
    for a growing corpus):

    - ``postings_store``: rows keyed (epoch_id, term, ``id_col``)
      carrying (tf, dl) — the batch's own postings;
    - ``corpus_store``: ONE row per epoch keyed (epoch_id,) carrying
      (n_docs, sum_dl) — retrieval.bm25_corpus_counts, the
      sum-mergeable decomposition of (n_docs, avgdl).

    Everything stored is a pure count, so epochs sum-merge (the
    apply_cm_delta rollup-delta pattern) and exactly-once rides the
    epoch key: a replayed epoch recomputes identical rows and upserts
    them over themselves. Contract: the landing stream is APPEND-ONLY
    in ``id_col`` — each document lands exactly once (the batch build
    has the same contract: a re-landed doc would double its tf there
    too); :func:`compact_bm25_store` re-verifies it loudly."""
    from etl_instagram_spark.operators.retrieval import (
        bm25_corpus_counts,
        build_bm25_index,
    )

    postings, _ = build_bm25_index(batch_df, id_col, text_col)
    postings_store.upsert(
        postings.withColumn("epoch_id", F.lit(int(epoch_id)))
    )
    corpus_store.upsert(
        bm25_corpus_counts(batch_df, text_col).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        )
    )


def bm25_read_index(
    postings_store: MergeTable, corpus_store: MergeTable
) -> tuple[DataFrame, DataFrame]:
    """The maintained index as the ``(postings, corpus)`` pair
    retrieval.bm25_topk_indexed expects — equal row-for-row to one
    build_bm25_index over the concatenation of every landed batch
    (pinned by test): postings rows are epoch-disjoint under the
    append-once contract (drop the key), and the corpus row re-derives
    ``avgdl = sum_dl / n_docs`` from the summed counts — bit-equal to
    the batch ``avg(dl)`` below the 2^53 exactness bound, which is
    checked LOUDLY here (2^53 tokens ≈ 9e15; a corpus that large must
    move to a decimal-sum corpus store before this read silently
    drifts)."""
    row = (
        corpus_store.read()
        .agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.sum("sum_dl"), F.lit(0)).cast("long").alias("s"),
        )
        .first()
    )
    n, s = int(row["n"]), int(row["s"])
    if s >= 1 << 53:
        raise ValueError(
            f"bm25_read_index: total token count {s} >= 2^53 — double "
            "addition is no longer exact, so avgdl would drift from the "
            "batch build; shard the corpus store or move sum_dl to "
            "DECIMAL before reading"
        )
    avgdl = float(s) / n if n else 0.0
    spark = corpus_store.spark
    corpus = spark.createDataFrame(
        [(n, avgdl)], "n_docs long, avgdl double"
    )
    return postings_store.read().drop("epoch_id"), corpus


def compact_bm25_store(
    postings_store: MergeTable,
    corpus_store: MergeTable,
    through_epoch: int,
    id_col: str,
) -> int:
    """Fold every row with ``epoch_id <= through_epoch`` into
    ``through_epoch``: corpus rows sum to one row (pure counts —
    reads invariant by algebra); postings rows only re-key, since a
    document's postings live in exactly one epoch under the
    append-once contract — which is VERIFIED here (one grouped probe
    over the compacted region): a duplicate (term, ``id_col``) across
    epochs means the landing stream re-landed a document, and silently
    merging it would corrupt tf, so compaction refuses loudly instead.
    The strictly-below-the-newest-epoch guard is every other store
    compactor's, applied to ``corpus_store`` (an empty epoch writes a
    corpus row but no postings). Returns rows eliminated (corpus rows;
    postings row count is invariant)."""
    stored_c = corpus_store.read()
    _guard_watermark(stored_c, through_epoch)
    old_c = stored_c.filter(F.col("epoch_id") <= through_epoch)
    n_old = old_c.count()
    if n_old == 0:
        return 0
    merged_c = old_c.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    ).withColumn("epoch_id", F.lit(int(through_epoch)))
    keep_c = stored_c.filter(F.col("epoch_id") > through_epoch)

    stored_p = postings_store.read()
    old_p = stored_p.filter(F.col("epoch_id") <= through_epoch)
    dup = (
        old_p.groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            "compact_bm25_store: duplicate posting "
            f"(term={dup[0]['term']!r}, {id_col}={dup[0][id_col]!r}) "
            "across epochs — the landing stream re-landed a document, "
            "violating the append-once contract; repair the store "
            "before compacting"
        )
    keep_p = stored_p.filter(F.col("epoch_id") > through_epoch)
    merged_p = old_p.withColumn("epoch_id", F.lit(int(through_epoch)))
    postings_store.overwrite(
        keep_p.unionByName(merged_p.select(*keep_p.columns))
    )
    corpus_store.overwrite(
        keep_c.unionByName(merged_c.select(*keep_c.columns))
    )
    return n_old - 1


def apply_cooc_delta(
    store: MergeTable,
    walks_batch: DataFrame,
    epoch_id: int,
    window: int = 2,
) -> None:
    """Fold one micro-batch of WALK rows (walk_id, step, node) into an
    epoch-keyed co-occurrence count store: rows keyed (epoch_id, src,
    ctx) carrying the batch's skip-gram window counts
    (operators/graph_embed.walk_cooccurrence). Counts merge by SUM —
    not idempotent, so exactly-once rides the epoch key (the
    :func:`apply_cm_delta` rollup-delta pattern: a replayed epoch
    recomputes identical counts and upserts them over themselves).

    CONTRACT (documented, like the bm25 append-once contract): each
    landed batch must carry COMPLETE walks — window pairs are generated
    within a batch, so a walk whose rows are split across two landings
    silently under-counts its cross-boundary pairs. Walk corpora land
    per graph snapshot/shard, which satisfies this naturally.

    At 100 TB this is what keeps the structural-embedding signal
    maintainable: the O(new walks) per-tick fold replaces re-pairing
    the whole walk corpus, and the read face
    (:func:`cooc_read` → graph_embed.ppmi_scores →
    graph_embed.walk_embeddings) re-derives PPMI and the projection
    from the collapsed counts — O(pairs), never O(history)."""
    from etl_instagram_spark.operators.graph_embed import walk_cooccurrence

    delta = walk_cooccurrence(walks_batch, window).withColumn(
        "epoch_id", F.lit(int(epoch_id))
    )
    store.upsert(delta)


def cooc_read(store: MergeTable) -> DataFrame:
    """Collapse the epoch-keyed co-occurrence store to ONE (src, ctx,
    cnt) frame — sum over epochs per pair. Pure counting algebra: the
    collapsed frame equals walk_cooccurrence over the union of every
    landed walk (for any batch split that respects the complete-walks
    contract), so graph_embed.ppmi_scores → walk_embeddings over this
    read is row-identical — every float — to the batch chain over the
    full corpus (pinned by test)."""
    return (
        store.read()
        .groupBy("src", "ctx")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_cooc_store(store: MergeTable, through_epoch: int) -> int:
    """Collapse every co-occurrence row with ``epoch_id <=
    through_epoch`` into one count set re-keyed at ``through_epoch`` —
    the :func:`compact_dcm_store` contract verbatim: sum-merge makes
    every read invariant under it, ``through_epoch`` must sit strictly
    below the newest epoch present (enforced), one atomic overwrite,
    re-runnable at a higher watermark. Returns rows eliminated."""
    return _compact_epochs(
        store,
        through_epoch,
        lambda old: old.groupBy("src", "ctx").agg(F.sum("cnt").alias("cnt")),
    )


def apply_edge_delta(
    store: MergeTable,
    edges_batch: DataFrame,
    epoch_id: int,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
) -> None:
    """Fold one micro-batch of graph EDGES into an epoch-keyed edge
    store: rows keyed (epoch_id, src, dst) carrying the batch's edge
    multiplicity as ``w`` (``weight_col=None`` counts occurrences;
    otherwise the batch's weights sum — NULL weights are rejected
    loudly, the random_walks weighted contract). Weights merge by SUM
    across epochs, so exactly-once rides the epoch key (the
    :func:`apply_cooc_delta` rollup-delta pattern: a replayed epoch
    recomputes identical counts and upserts them over themselves).

    This is the growing-graph state behind continuous communities
    (:func:`communities_read`): at 100 TB the per-tick cost is the
    O(new edges) fold; the edge set — the only state label propagation
    needs — accumulates without ever rescanning history. Unlike
    walks, edges carry no cross-row structure — ANY batch split is
    sound, so there is no per-batch completeness contract here."""
    if weight_col is None:
        delta = (
            edges_batch.groupBy(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("w"))
        )
    else:
        n_null = edges_batch.filter(F.col(weight_col).isNull()).count()
        if n_null:
            raise ValueError(
                f"apply_edge_delta: {n_null} edge row(s) have NULL "
                f"{weight_col!r} — filter or fill them explicitly"
            )
        delta = (
            edges_batch.groupBy(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
            )
            .agg(F.sum(F.col(weight_col).cast("long")).alias("w"))
        )
    store.upsert(delta.withColumn("epoch_id", F.lit(int(epoch_id))))


def edges_read(store: MergeTable) -> DataFrame:
    """Collapse the epoch-keyed edge store to ONE (src, dst, w) frame —
    sum over epochs per edge. Pure counting algebra: the collapsed
    frame equals the per-edge multiplicity over the union of every
    landed batch under any batch split."""
    return store.read().groupBy("src", "dst").agg(F.sum("w").alias("w"))


def communities_read(
    store: MergeTable, n_rounds: int = 4, weighted: bool = False
) -> DataFrame:
    """Label-propagation communities over the growing graph: collapse
    the edge store and RECOMPUTE operators/graph.label_propagation over
    the merged edge set.

    Recompute-per-tick is the documented design, not a shortcut: LPA
    labels are a global synchronous iteration — one new edge can flip
    the argmax at its endpoints, whose new labels re-vote on every
    neighbor next round, so a single landed edge can legally relabel
    nodes arbitrarily far away. There is no sound LOCAL incremental
    label update; the maintainable state is the O(edges) store (the
    per-tick fold is O(new edges)), and the recompute's cost profile is
    exactly the batch operator's — per round one key-equi join of the
    O(nodes) label frame against the edges plus two map-side-combinable
    aggregations, independent of how many ticks landed the graph. By
    construction the labels are row-identical to
    ``label_propagation(edges over the full history)`` — pinned by
    test, the cooc-read precedent.

    ``weighted=True`` votes with the summed edge multiplicities
    (landing the same edge twice doubles its vote weight — the honest
    multiset semantics of an edge STREAM); ``weighted=False`` votes 1
    per distinct edge regardless of multiplicity."""
    from etl_instagram_spark.operators.graph import label_propagation

    edges = edges_read(store)
    if weighted:
        return label_propagation(edges, n_rounds=n_rounds, weight_col="w")
    return label_propagation(edges.select("src", "dst"), n_rounds=n_rounds)


def pagerank_read(
    store: MergeTable,
    n_iter: int = 3,
    weighted: bool = False,
    **kwargs,
) -> DataFrame:
    """PageRank over the growing graph: collapse the edge store and
    RECOMPUTE operators/graph.pagerank over the merged edge set — the
    :func:`communities_read` recompute-per-tick contract for the
    family's driver-certified operator. Rank is a global stationary
    property (one landed edge shifts mass everywhere through the power
    iteration), so like LPA there is no sound local update; the
    maintainable state is the O(edges) store and the read costs exactly
    the batch operator. ``weighted=True`` walks edges in proportion to
    their summed multiplicities; extra kwargs (seeds,
    redistribute_dangling, ...) pass through to pagerank."""
    from etl_instagram_spark.operators.graph import pagerank

    edges = edges_read(store)
    if weighted:
        return pagerank(edges, n_iter=n_iter, weight_col="w", **kwargs)
    return pagerank(edges.select("src", "dst"), n_iter=n_iter, **kwargs)


def compact_edge_store(store: MergeTable, through_epoch: int) -> int:
    """Collapse every edge row with ``epoch_id <= through_epoch`` into
    one summed edge set re-keyed at ``through_epoch`` — the
    :func:`compact_cooc_store` contract verbatim: sum-merge makes every
    read invariant under it, ``through_epoch`` must sit strictly below
    the newest epoch present (enforced), one atomic overwrite,
    re-runnable at a higher watermark. Returns rows eliminated."""
    return _compact_epochs(
        store,
        through_epoch,
        lambda old: old.groupBy("src", "dst").agg(F.sum("w").alias("w")),
    )


def stream_resolve_entities(
    spark: SparkSession,
    landing_dir: str,
    schema_ddl: str,
    store: MergeTable,
    checkpoint_dir: str,
    id_col: str,
    name_col: str,
    block,
    max_dist: int = 2,
    assigned_out: MergeTable | None = None,
    merges_out: MergeTable | None = None,
) -> bool:
    """One AvailableNow tick of continuous entity resolution: drain
    newly landed records and link each micro-batch against the
    (block, norm, entity) name store via
    operators/entity.incremental_resolve_entities. ``assigned_out``
    (keyed by ``id_col``) collects per-record entity assignments;
    ``merges_out`` (keyed [entity_keep, entity_merge]) accumulates the
    bridge audit for periodic batch reconciliation. All three sinks are
    replay-safe: the name store by norm-keyed upsert convergence, the
    assignment sink because a replayed batch adopts identical entities,
    the merge sink because its rows ARE its keys (idempotent upsert).
    ``block`` is the blocking Column (e.g. a phonetic key) — the same
    expression must be used across every tick, or history probes stop
    matching; store and checkpoint are a unit (see :func:`drain`)."""
    from etl_instagram_spark.operators.entity import (
        incremental_resolve_entities,
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        assigned, merges = incremental_resolve_entities(
            batch_df, store, id_col, name_col, block, max_dist
        )
        if assigned_out is not None:
            assigned_out.upsert(assigned)
        if merges_out is not None:
            merges_out.upsert(merges)

    drain(spark, landing_dir, schema_ddl, checkpoint_dir, handle)
    return True
