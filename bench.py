#!/usr/bin/env python
"""Benchmark harness: times every inventory query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Timing is per-query wall time of plan + execution via a cheap full-result
materialization (``df.write.format("noop")`` is not in OSS pyspark's
stable surface, so we use count-style ``collect`` on small results; every
inventory query returns a bounded result set by design — aggregations /
top-k — so collect is the action, not a data transfer).

Each query is run ``SPARK_GRAFT_BENCH_REPS`` times (default 3) and the
reported per-query number is the MEDIAN, so single-run noise (GC pauses,
page-cache misses) stops masquerading as regressions. ``queries_min``
carries the per-query minimum for readers who want the noise floor, and
``samples_raw`` carries EVERY rep in run order (with ``started_at_sec``
offsets from bench start), so a noisy run is diagnosable from the
artifact alone: machine contention shows up as a time-correlated band of
inflated reps across unrelated queries, while a genuine plan regression
inflates all reps of one query uniformly. (Round 8's driver run carried
3.5x phantom inflation on two entries that only an on-machine re-run
could disprove — the raw samples make that call readable from the file.)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
# r18: entries whose floor lands under FAST_FLOOR_SEC after the normal
# REPS get topped up to FAST_ENTRY_REPS total — at 3 reps, sub-1.5 s
# floors were noise-dominated on this container (ratios up to 6.3x)
FAST_FLOOR_SEC = 1.5
FAST_ENTRY_REPS = max(REPS, int(os.environ.get("SPARK_GRAFT_BENCH_FAST_REPS", "5")))


def prev_committed_floors() -> dict[str, float]:
    """Per-entry floors from the ON-DISK BENCH_DETAIL.json left by the
    previous bench run (working-tree file — it may be dirty or from
    another machine/SF; harmless either way, since a stale floor can
    only ADD reps, never remove them; ADVICE r19 #3 wording fix) —
    the load-insensitive fast-entry signal (r19, ADVICE r18 #1): the
    top-up below used to trigger on the MEASURED floor alone, so an
    ambient load wave during an entry's first reps pushed a genuinely
    sub-threshold entry past it and it never got the extra reps —
    exactly the noise class the top-up exists to fix."""
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")) as fh:
            return {k: float(v) for k, v in json.load(fh).get("queries_min", {}).items()}
    except Exception:  # noqa: BLE001 — first run has no artifact
        return {}


def sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def etl_tick_seconds(spark, n_pages: int = 10_000, posts_per_page: int = 3) -> float:
    """End-to-end ETL throughput: ONE hashtag_tick over ``n_pages``
    synthetic tag pages (fetch stub → sentinel split → shared-data
    extract → from_json → projection → anti-join → detail join → topics
    enrichment → MergeTable upserts). The relational inventory above
    measures query plans; this measures the scraper-pipeline surface,
    which otherwise has correctness coverage but no perf series. Page
    HTML is generated deterministically inside the fetch worker, so the
    run is self-contained and sf-independent."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_instagram_spark.config import EngineConfig
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.pipelines.orchestrator import hashtag_tick

    n_posts = n_pages * posts_per_page

    def fetcher(url: str) -> str:
        import json as j

        tag = url.rstrip("/").rsplit("/", 1)[-1]
        i = int(tag[3:])
        nodes = []
        for p in range(posts_per_page):
            idx = i * posts_per_page + p
            nodes.append(
                {
                    "id": str(idx),
                    "shortcode": f"SC{idx}",
                    "thumbnail_src": f"https://cdn/{idx}.jpg",
                    "accessibility_caption": "Photo",
                    "__typename": "GraphImage",
                    "edge_media_preview_like": {"count": idx % 500},
                    "edge_media_to_comment": {"count": idx % 37},
                    "edge_media_to_caption": {
                        "edges": [
                            {
                                "node": {
                                    "text": f"kimchi fried rice batch {idx} "
                                    "spark shuffle scale pipeline data"
                                }
                            }
                        ]
                    },
                }
            )
        shared = {
            "entry_data": {
                "TagPage": [
                    {
                        "graphql": {
                            "hashtag": {"edge_hashtag_to_media": {"edges": [{"node": n} for n in nodes]}}
                        }
                    }
                ]
            }
        }
        return (
            "<html><head><script>window._sharedData = "
            + j.dumps(shared)
            + ";</script></head><body>tag page</body></html>"
        )

    # one detail row per shortcode, built as columns (no driver-side JSON)
    loc_t = (
        "struct<id:string,name:string,slug:string,"
        "has_public_page:boolean,address_json:string>"
    )
    ids = spark.range(n_posts).select(F.col("id").cast("int").alias("i"))
    owner = F.struct(
        F.concat(F.lit("u-user"), F.col("i") % 1000).alias("id"),
        F.concat(F.lit("user"), F.col("i") % 1000).alias("username"),
        F.concat(F.lit("User "), F.col("i") % 1000).alias("full_name"),
        F.lit("https://cdn/u.jpg").alias("profile_pic_url"),
        F.struct(F.lit(100).cast("bigint").alias("count")).alias("edge_followed_by"),
        F.struct(F.lit(50).cast("bigint").alias("count")).alias(
            "edge_owner_to_timeline_media"
        ),
    )
    details = ids.select(
        F.concat(F.lit("SC"), F.col("i")).alias("shortcode"),
        F.struct(
            F.struct(
                owner.alias("owner"), F.lit(None).cast(loc_t).alias("location")
            ).alias("shortcode_media")
        ).alias("data"),
    )

    cfg = EngineConfig(
        env_name="production",
        hashtags=tuple(f"tag{i:05d}" for i in range(n_pages)),
        dev_limit=None,
        fetch_interval_s=0.0,
    )
    work = tempfile.mkdtemp(prefix="bench_etl_")
    try:
        tables = {
            name: MergeTable(spark, os.path.join(work, name), key)
            for name, key in (
                ("posts", "id"),
                ("users", "id"),
                ("locations", "id"),
                ("dead", "url"),
            )
        }
        t0 = time.perf_counter()
        stats = hashtag_tick(
            spark,
            cfg,
            details,
            tables["posts"],
            tables["users"],
            tables["locations"],
            tables["dead"],
            fetcher=fetcher,
            enrich=True,
        )
        elapsed = time.perf_counter() - t0
        if stats is None or stats.get("new_posts") != n_posts:
            raise RuntimeError(f"etl tick did not ingest {n_posts} posts: {stats}")
        return elapsed
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ann_query_tick_seconds(spark, n_queries: int = 10) -> float:
    """ANN PRODUCTION-path throughput: ``n_queries`` ann_ivfpq_topk
    lookups (cell-pruned codes-only ADC scan + broadcast-shortlist
    exact rerank) against a prebuilt on-disk IVFADC index over the
    sf-dir embeddings, partitioned by cell. The recall GATES time the
    exact ground-truth side too; this is what a serving workload
    actually pays per query. Index build and quantizer fits are
    untimed (one-time ingest cost)."""
    import shutil
    import tempfile

    from etl_instagram_spark.operators.similarity import (
        ann_index_rows,
        ann_ivfpq_topk,
        fit_ivf_centroids,
        fit_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = fit_ivf_centroids(emb, n_clusters=8, seed=42, order_col="vec_id")
    cbs = fit_pq_codebooks(emb, m=8, k=16, seed=42, order_col="vec_id")
    tmp = tempfile.mkdtemp(prefix="annq_")
    try:
        path = f"{tmp}/index"
        ann_index_rows(emb, cents, cbs).write.partitionBy("cell").parquet(path)
        index = spark.read.parquet(path)
        qrows = (
            emb.filter(f"vec_id < {n_queries}")
            .select("vec_id", "embedding")
            .collect()
        )
        t0 = time.perf_counter()
        for r in qrows:
            qv = [float(x) for x in r["embedding"]]
            ann_ivfpq_topk(
                index, emb, qv, cents, cbs, k=10, n_probe=2, rerank=50
            ).collect()
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def kmeans_refine_tick_seconds(spark, k: int = 80, n_iter: int = 2) -> float:
    """Distributed-clustering throughput: ``n_iter`` full-data Lloyd's
    refinement iterations plus one cost profile over the sf-dir
    embeddings (operators/clustering.py) — each iteration one scan with
    map-side-combined per-cell integer micro-unit sums, the production path for
    fitting quantizers when a driver sample isn't representative. The
    seeded sample init is untimed (it is the same bounded fit the ANN
    ticks pay)."""
    from etl_instagram_spark.operators.clustering import (
        kmeans_cost,
        refine_centroids,
    )
    from etl_instagram_spark.operators.similarity import fit_ivf_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = fit_ivf_centroids(emb, n_clusters=k, seed=42, order_col="vec_id")
    t0 = time.perf_counter()
    cur = refine_centroids(emb, cents, n_iter=n_iter)
    kmeans_cost(emb, cur).collect()
    return time.perf_counter() - t0


def stream_dedup_tick_seconds(
    spark, n_history: int = 20_000, n_batch: int = 20_000, dup_pct: int = 30
) -> float:
    """Steady-state incremental near-dedup throughput: ONE
    stream_near_dedup tick draining a ``n_batch``-doc landing set against
    a ``n_history``-doc signature store (seeded by an untimed first
    tick). ``dup_pct``% of the batch are near-duplicates of history docs
    (one word appended), so the tick exercises the full path: within-
    batch LSH + exact-Jaccard verify, cross-history band join against
    the store, and the store/clean-table upserts. This is the 100-TB
    differentiator — the daily delta is deduped against O(k)-bigints-
    per-doc signatures, never by rescanning corpus text — and it
    previously had correctness coverage but no perf series."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import stream_near_dedup

    def synth_text(idc):
        # 30 deterministic pseudo-tokens per doc; token j embeds the raw
        # id so DISTINCT ids never share a token (a modular fold here
        # would alias ids n and n+modulus into identical docs — at 20k
        # docs a mod-9973 variant silently deduped half the history)
        return F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"tok{j}x"), idc * F.lit(31 + j) + F.lit(7 * j))
                for j in range(30)
            ],
        )

    work = tempfile.mkdtemp(prefix="bench_sdedup_")
    try:
        landing1 = os.path.join(work, "landing1")
        landing2 = os.path.join(work, "landing2")
        hist = spark.range(n_history).select(
            F.col("id").alias("doc_id"), synth_text(F.col("id")).alias("text")
        )
        hist.repartition(4).write.json(landing1)
        base = spark.range(n_history, n_history + n_batch).select(
            F.col("id").alias("doc_id")
        )
        is_dup = (F.col("doc_id") % 100) < dup_pct
        src = F.col("doc_id") - n_history
        batch = base.select(
            "doc_id",
            F.when(is_dup, F.concat(synth_text(src), F.lit(" extraword")))
            .otherwise(synth_text(F.col("doc_id")))
            .alias("text"),
        )
        batch.repartition(4).write.json(landing2)

        store = MergeTable(spark, os.path.join(work, "store"), "doc_id")
        clean = MergeTable(spark, os.path.join(work, "clean"), "doc_id")
        ddl = "doc_id LONG, text STRING"
        # seed tick (untimed): builds the signature-store history
        stream_near_dedup(
            spark, landing1, ddl, store, clean, os.path.join(work, "ckpt1")
        )
        t0 = time.perf_counter()
        stream_near_dedup(
            spark, landing2, ddl, store, clean, os.path.join(work, "ckpt2")
        )
        elapsed = time.perf_counter() - t0
        n_clean = clean.read().count()
        # ~dup_pct% of the batch should be dropped against history
        if not (n_history < n_clean < n_history + n_batch):
            raise RuntimeError(f"stream dedup tick implausible: clean={n_clean}")
        return elapsed
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_hh_tick_seconds(
    spark, n_seed: int = 200_000, n_batch: int = 200_000, capacity: int = 200
) -> float:
    """Steady-state continuous-heavy-hitters throughput: ONE drain
    tick folding ``n_batch`` landed term rows (apply_hh_delta) into
    an epoch-keyed summary store already holding a ``n_seed``-row epoch
    (seeded by an untimed first drain of the SAME landing dir /
    checkpoint lineage — the store+checkpoint unit the operator
    documents), plus one heavy_hitters_read over the merged history.
    20 % of rows are 10 hot terms (2 % each — above the 1 % support),
    the rest a 20k-term tail that the bounded summary must absorb."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        apply_hh_delta,
        drain,
        heavy_hitters_read,
    )

    def synth_terms(start: int, n: int):
        idc = F.col("id")
        return spark.range(start, start + n).select(
            F.when(
                idc % 5 == 0,
                F.concat(F.lit("hot"), (F.floor(idc / 5) % 10).cast("string")),
            )
            .otherwise(F.concat(F.lit("tail"), (idc % 20_000).cast("string")))
            .alias("term")
        )

    work = tempfile.mkdtemp(prefix="bench_shh_")
    try:
        landing = os.path.join(work, "landing")
        ckpt = os.path.join(work, "ckpt")
        store = MergeTable(
            spark, os.path.join(work, "store"), ["epoch_id", "term_key"],
            order_by="epoch_id",
        )
        ddl = "term STRING"

        def tick(batch_df, epoch_id):
            apply_hh_delta(store, batch_df, epoch_id)

        synth_terms(0, n_seed).repartition(4).write.json(landing)
        # seed tick (untimed): epoch 0 into the summary store
        drain(spark, landing, ddl, ckpt, tick)
        synth_terms(n_seed, n_batch).repartition(4).write.mode("append").json(
            landing
        )
        t0 = time.perf_counter()
        drain(spark, landing, ddl, ckpt, tick)
        n_hh = heavy_hitters_read(store, capacity, 1, 100).count()
        elapsed = time.perf_counter() - t0
        # the 10 hot terms must be reported; near-threshold extras allowed
        if not (10 <= n_hh <= capacity):
            raise RuntimeError(f"stream hh tick implausible: n_hh={n_hh}")
        return elapsed
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _exec_metrics_snapshot(spark) -> dict[str, int] | None:
    """Cumulative executor-aggregate counters from Spark's AppStatusStore
    (populated even with the UI disabled) plus whole-JVM GC time from the
    management beans. Snapshotting before/after a tick rep and diffing
    says WHAT a slow rep spent its time on — shuffle volume, task time,
    GC — instead of leaving a divergent artifact to ab_note adjudication
    (r15 verdict: the driver-vs-builder tick residual has been argued
    from totals four rounds running; this records the components)."""
    try:
        tot = {
            "gc_ms": 0,
            "shuffle_read_b": 0,
            "shuffle_write_b": 0,
            "input_b": 0,
            "task_time_ms": 0,
            "tasks": 0,
        }
        store = spark.sparkContext._jsc.sc().statusStore()
        execs = store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["gc_ms"] += e.totalGCTime()
            tot["shuffle_read_b"] += e.totalShuffleRead()
            tot["shuffle_write_b"] += e.totalShuffleWrite()
            tot["input_b"] += e.totalInputBytes()
            tot["task_time_ms"] += e.totalDuration()
            tot["tasks"] += e.totalTasks()
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        jvm_gc = 0
        for i in range(beans.size()):
            jvm_gc += beans.get(i).getCollectionTime()
        tot["jvm_gc_ms"] = jvm_gc
        return tot
    except Exception:  # noqa: BLE001 — diagnostics must never fail the bench
        return None


def _metrics_delta(
    before: dict[str, int] | None, after: dict[str, int] | None
) -> dict[str, int] | None:
    if before is None or after is None:
        return None
    return {k: after[k] - before[k] for k in after if k in before}


def main() -> int:
    import __spark_entry__ as entrymod
    from etl_instagram_spark.session import get_spark

    spark = get_spark("bench")
    queries = entrymod.queries()

    # warm the JVM, parquet footers, and OS page cache once so per-query
    # numbers measure the queries, not session startup / cold IO
    spark.range(1).count()
    from etl_instagram_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        try:
            load_table(spark, SF_DIR, t).count()
        except Exception:  # noqa: BLE001 — missing table is a query-time error
            pass

    bench_t0 = time.perf_counter()
    prev_floors = prev_committed_floors()
    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    starts: dict[str, list[float]] = {}
    run_order: list[str] = []
    # r17: per-rep executor metric deltas for EVERY gate query, not just
    # ticks — r16's single unadjudicable divergence was a non-tick entry
    # (emb_knn_join_recall, 4.9x driver-vs-builder floor with zero
    # in-artifact evidence). The snapshot is a driver-side status-store
    # read (~ms), so it cannot perturb the timings it annotates.
    query_metrics: dict[str, list[dict[str, int] | None]] = {}
    for name, fn in queries.items():
        run_order.append(name)
        samples: list[float] = []
        rep_starts: list[float] = []
        rep_metrics: list[dict[str, int] | None] = []
        try:
            after = _exec_metrics_snapshot(spark)
            # r18: sub-1.5 s entries carried noise ratios up to 6.3x at
            # 3 reps on this container (part_scalar_functions 6.27,
            # docs_gopher_filter 5.67 in the r17 artifact) — exactly the
            # entries whose phantom regressions consumed two rounds of
            # adjudication. Cheap entries get extra reps (min-of-5+) so
            # their floors are real; costs < 20 s of bench wall total.
            n_reps = REPS
            rep = 0
            while rep < n_reps:
                rep_starts.append(round(time.perf_counter() - bench_t0, 2))
                snap = after
                t0 = time.perf_counter()
                rows = fn(spark, SF_DIR).collect()
                _ = len(rows)
                samples.append(time.perf_counter() - t0)
                after = _exec_metrics_snapshot(spark)
                d = _metrics_delta(snap, after)
                if d is not None:
                    d["wall_sec"] = round(samples[-1], 4)
                rep_metrics.append(d)
                rep += 1
                # r19 (ADVICE r18 #1): ALSO trigger on the previous
                # committed artifact's floor — load-insensitive, so an
                # ambient wave over the first reps can no longer rob a
                # genuinely-fast entry of its extra reps
                if rep == n_reps and (
                    min(samples) < FAST_FLOOR_SEC
                    or prev_floors.get(name, float("inf")) < FAST_FLOOR_SEC
                ):
                    n_reps = max(n_reps, FAST_ENTRY_REPS)
            timings[name] = round(statistics.median(samples), 4)
            minima[name] = round(min(samples), 4)
        except Exception as exc:  # noqa: BLE001 — record, don't abort the bench
            timings[name] = -1.0
            minima[name] = -1.0
            print(f"# bench error {name}: {exc}", file=sys.stderr)
        raw[name] = [round(s, 4) for s in samples]
        starts[name] = rep_starts
        query_metrics[name] = rep_metrics

    # pipeline ticks (fresh MergeTable state per rep, median kept): the
    # batch-ETL ingest and the incremental streaming near-dedup.
    # Measurement hygiene: drop the query section's cached data and ask
    # the JVM to collect before timing starts — the ticks should measure
    # pipeline cost on a clean executor state, not the GC debt of 150
    # preceding query reps (isolated tick runs were ~40% faster than
    # in-bench ones before this).
    spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — a hint, not a requirement
        pass
    tick_metrics: dict[str, list[dict[str, int] | None]] = {}
    for tick_name, tick_fn in (
        ("etl_hashtag_tick", etl_tick_seconds),
        ("stream_dedup_tick", stream_dedup_tick_seconds),
        ("stream_hh_tick", stream_hh_tick_seconds),
        ("ann_query_tick", ann_query_tick_seconds),
        ("kmeans_refine_tick", kmeans_refine_tick_seconds),
    ):
        run_order.append(tick_name)
        samples = []
        rep_starts = []
        rep_metrics: list[dict[str, int] | None] = []
        try:
            # one UNTIMED warm rep before the timed reps (r14 verdict):
            # the official r14 artifact read stream_dedup_tick at a flat
            # ~11.5 s x 3 (2.19x the r13 floor) while same-code runs in
            # the builder's session warmed to 4.97 s — the first tick
            # invocation of a session pays JVM/stream-state/codegen
            # warm-up that the per-rep fresh MergeTable state does NOT
            # reset. Discarding one full tick makes every timed rep a
            # warm-state measurement, so the recorded floor is the
            # operator's floor, not the session's cold-start debt.
            # The warm rep's metric deltas ARE recorded (index 0 of
            # tick_rep_metrics, flagged "warm") — the warm-vs-timed
            # component diff is exactly what the driver-vs-builder
            # residual question needs. NOTE: each entry's wall_sec (and
            # therefore its metric deltas) spans the ENTIRE tick_fn
            # call — setup, seed tick, verification — while samples_raw
            # carries only the function's internally-timed steady-state
            # portion; compare deltas ACROSS reps, not against the
            # sample times. First diagnostic yield (this round's
            # degraded container): identical per-rep work (bytes,
            # tasks, GC) with task_time_ms ≈ wall_sec·1000 at 3-5x
            # spread = host CPU starvation, and average parallelism ~1
            # on the etl/dedup ticks = they are stage-latency-bound,
            # not compute-bound.
            snap = _exec_metrics_snapshot(spark)
            wt0 = time.perf_counter()
            tick_fn(spark)
            wsec = round(time.perf_counter() - wt0, 4)
            after = _exec_metrics_snapshot(spark)
            d = _metrics_delta(snap, after)
            if d is not None:
                d["warm"] = 1
                d["wall_sec"] = wsec
                d["wall_scope"] = "tick_phase"
            rep_metrics.append(d)
            for _ in range(REPS):
                rep_starts.append(round(time.perf_counter() - bench_t0, 2))
                snap = after
                t0 = time.perf_counter()
                samples.append(tick_fn(spark))
                after = _exec_metrics_snapshot(spark)
                d = _metrics_delta(snap, after)
                if d is not None:
                    d["wall_sec"] = round(time.perf_counter() - t0, 4)
                    # r18 (self-describing artifacts): a tick rep's
                    # wall_sec spans the ENTIRE tick_fn call — setup,
                    # seed tick, verification — a WIDER phase than the
                    # entry's queries_min/samples_raw, which carry only
                    # the internally-timed steady-state portion. The
                    # scope tag replaces the commit-8f74c6e lore.
                    d["wall_scope"] = "tick_phase"
                rep_metrics.append(d)
            timings[tick_name] = round(statistics.median(samples), 4)
            minima[tick_name] = round(min(samples), 4)
        except Exception as exc:  # noqa: BLE001 — record, don't abort the bench
            timings[tick_name] = -1.0
            minima[tick_name] = -1.0
            print(f"# bench error {tick_name}: {exc}", file=sys.stderr)
        raw[tick_name] = [round(s, 4) for s in samples]
        starts[tick_name] = rep_starts
        tick_metrics[tick_name] = rep_metrics

    total = round(sum(t for t in timings.values() if t >= 0), 4)
    # min-sum: the container-noise-resistant total — in a degraded
    # container (r10: same-code re-runs spanned 94–111 s) per-entry
    # MINIMA stay at the reproducible floor while medians inflate, so
    # round-over-round comparisons should read total_min_sec first
    total_min = round(sum(t for t in minima.values() if t >= 0), 4)
    # Detail (medians + minima per query) goes to a committed FILE, not
    # stdout: round 5's single stdout line outgrew the driver's
    # tail-capture window and killed the headline (`parsed: null`);
    # round 6's separate detail line was itself truncated, so per-query
    # regression math was unrecoverable from the artifact. A file under
    # the repo root survives both. Compact driver-contract summary stays
    # LAST on stdout so the final line is always the parseable headline.
    try:
        detail_path = os.environ.get(
            "SPARK_GRAFT_BENCH_DETAIL", os.path.join(os.path.dirname(__file__), "BENCH_DETAIL.json")
        )
        with open(detail_path, "w") as fh:
            # per-query max/min spread: >~2 on several unrelated queries
            # at once is the contention signature, not a regression
            noise = {
                n: round(max(s) / min(s), 2)
                for n, s in raw.items()
                if s and min(s) > 0
            }
            json.dump(
                {
                    "sf": sf_from_dir(SF_DIR),
                    "reps": REPS,
                    # entries whose floor < fast_floor_sec run
                    # fast_entry_reps total (r18); per-entry actual rep
                    # counts are len(samples_raw[name])
                    "fast_floor_sec": FAST_FLOOR_SEC,
                    "fast_entry_reps": FAST_ENTRY_REPS,
                    "ab_notes": [
                        "round history: OPTIMIZATION_r19.md, OPTIMIZATION_r20.md, "
                        "VERDICT.md and the git log",
                    ],
                    "total_median_sec": total,
                    "total_min_sec": total_min,
                    "queries_median": timings,
                    "queries_min": minima,
                    "samples_raw": raw,
                    "tick_rep_metrics": tick_metrics,
                    "query_rep_metrics": query_metrics,
                    "rep_started_at_sec": starts,
                    "run_order": run_order,
                    "noise_ratio": noise,
                    "max_noise_ratio": round(max(noise.values()), 2)
                    if noise
                    else None,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
    except OSError as exc:
        print(f"# bench detail write failed: {exc}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "total_min_sec": total_min,
                "unit": "sec",
                "queries": timings,
                "reps": REPS,
                "sf": sf_from_dir(SF_DIR),
            }
        )
    )
    return 0 if all(t >= 0 for t in timings.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
