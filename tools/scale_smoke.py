#!/usr/bin/env python
"""Scale smoke: measure how the superlinear-RISK operators actually grow.

``jaccard_join``, ``knn_self_join``, ``semantic_dedup``, and ``fit_bpe``
are the operators whose candidate/pair stages could blow up
quadratically if their pruning failed. This script times each at sf0.1
and at a deterministic 10x synthetic scale-up and writes the pairs to
``BENCH_SCALE.json`` so the "scales linearly" docstring claims are a
measured trend, not an assertion.

Scaling protocol (matters for honesty):

- **documents x10**: copy 0 is the original; copy c>0 prefixes every
  word with ``c{c}~`` — each copy's shingle vocabulary is DISJOINT from
  every other copy's, so the within-copy duplicate/near-dup structure
  replicates the original distribution while no cross-copy pair is a
  candidate. That is "10x more data that looks like the data"; naive
  verbatim copies would make every doc a 10-way near-dup and measure a
  by-construction quadratic blowup of the DATA, not the operator.
- **embeddings x10**: copy c>0 applies a fixed per-copy sign-flip
  pattern (a reflection isometry) — pairwise dot products WITHIN a copy
  are exactly the original's, while cross-copy cosines decorrelate.
- **index parameters scale with n**, as they would in production: a
  fixed LSH ``bits`` or IVF ``n_clusters`` makes bucket/cell sizes grow
  linearly with n and the within-bucket pair stage is then O(n^2) BY
  CONFIGURATION. The scale path is constant expected bucket size:
  bits += log2(mult), n_clusters *= mult. (fit_bpe and jaccard_join
  take no index parameter; their linearity is structural.)

Usage: python tools/scale_smoke.py [--mult 10] [--out BENCH_SCALE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
WORK_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale")


def scaled_documents(spark: SparkSession, mult: int, out_path: str) -> None:
    base = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    copies = []
    for c in range(mult):
        cp = base.withColumn("doc_id", F.col("doc_id") + F.lit(c * 10_000_000))
        if c > 0:
            # disjoint shingle vocabulary per copy: prefix every word
            cp = cp.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"c{c}~$1")
            )
        copies.append(cp)
    out = copies[0]
    for cp in copies[1:]:
        out = out.unionByName(cp)
    out.repartition(32).write.mode("overwrite").parquet(out_path)


def scaled_embeddings(spark: SparkSession, mult: int, out_path: str) -> None:
    base = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    copies = []
    for c in range(mult):
        cp = base.withColumn("vec_id", F.col("vec_id") + F.lit(c * 10_000_000))
        if c > 0:
            # per-copy reflection: flip the sign of a copy-specific set
            # of dimensions — an isometry, so within-copy geometry is
            # exactly the original's
            cp = cp.withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, i) -> "
                    f"CASE WHEN pmod((i + 1) * {2 * c + 3}, 7) < 3 "
                    f"THEN -x ELSE x END)"
                ),
            )
        copies.append(cp)
    out = copies[0]
    for cp in copies[1:]:
        out = out.unionByName(cp)
    out.repartition(32).write.mode("overwrite").parquet(out_path)


def timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 3)


def max_job_tasks(spark, fn) -> tuple[float, int]:
    """(seconds, max tasks of any job launched by fn) — the walk-family
    parallelism evidence (VERDICT r19 #4): the r19 frontier round-robin
    only matters if the walk jobs actually run ≥ core-count tasks at
    scale, and task counts are load-independent where wall time is not."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def job_ids():
        jl = store.jobsList(None)
        return {jl.apply(i).jobId() for i in range(jl.size())}

    before = job_ids()
    sec = timed(fn)
    jl = store.jobsList(None)
    tasks = [
        jl.apply(i).numTasks()
        for i in range(jl.size())
        if jl.apply(i).jobId() not in before
    ]
    return sec, (max(tasks) if tasks else 0)


def _disjoint_edge_copies(base_edges, mult, extra_cols=()):
    """Disjoint id-shifted copies of an edge list (the
    replicate-don't-correlate protocol): per-copy structure is exactly
    the original's and no edge crosses copies, so the honest
    expectation for a linear operator is time ∝ mult. Shared by the
    graph-family smokes."""
    copies = [
        base_edges.select(
            (F.col("src") + F.lit(c * 100_000_000)).alias("src"),
            (F.col("dst") + F.lit(c * 100_000_000)).alias("dst"),
            *extra_cols,
        )
        for c in range(mult)
    ]
    out = copies[0]
    for cp in copies[1:]:
        out = out.unionByName(cp)
    return out.localCheckpoint()


def run_one_op(op: str, docs_path: str, emb_path: str, mult: int) -> dict:
    """Measure ONE operator in this process (invoked as a subprocess per
    measurement so each op gets a fresh JVM: no cached-checkpoint debt,
    no GC pressure from the previous op contaminating the timing — the
    first in-JVM run of the 10x suite OOMed knn_self_join's broadcast
    purely on the heap the preceding jaccard run left behind)."""
    import math

    from etl_instagram_spark.operators.dedup import jaccard_join, semantic_dedup
    from etl_instagram_spark.operators.similarity import (
        fit_ivf_centroids,
        knn_self_join,
    )
    from etl_instagram_spark.operators.tokenizer import fit_bpe
    from etl_instagram_spark.session import get_spark

    spark = get_spark(f"scale-smoke-{op}-x{mult}")
    # measure the at-scale plans: corpus-sized join sides don't fit a
    # broadcast at real scale, but at the 10x point they still slip
    # under the 64MB threshold and the driver-side relation build races
    # local[32] task memory (observed OOM for knn's bucket join AND
    # semantic_dedup's within-cell self-join). Explicit F.broadcast
    # hints (O(1)-row query/bounds/stats frames) ignore the threshold
    # and keep their plans.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bits = 6 + round(math.log2(mult))
    n_clusters = 8 * mult
    if op == "jaccard_join":
        docs = spark.read.parquet(docs_path).localCheckpoint()
        res = {
            "sec": timed(
                lambda: jaccard_join(docs, "doc_id", "text", threshold=0.8).count()
            ),
            "params": {"threshold": 0.8},
        }
    elif op == "fit_bpe":
        docs = spark.read.parquet(docs_path).localCheckpoint()
        res = {
            "sec": timed(lambda: fit_bpe(docs, "text", n_merges=32)),
            "params": {"n_merges": 32},
        }
    elif op == "knn_self_join":
        emb = spark.read.parquet(emb_path).localCheckpoint()
        res = {
            "sec": timed(lambda: knn_self_join(emb, k=10, bits=bits).count()),
            "params": {"k": 10, "bits": bits},
        }
    elif op == "semantic_dedup":
        emb = spark.read.parquet(emb_path).localCheckpoint()
        cents = fit_ivf_centroids(emb, n_clusters=n_clusters, order_col="vec_id")
        res = {
            "sec": timed(
                lambda: semantic_dedup(
                    emb, "vec_id", "embedding", cents, threshold=0.95
                ).count()
            ),
            "params": {"n_clusters": n_clusters, "threshold": 0.95},
        }
    elif op == "quantized_ann":
        # r18 (verdict task #6): the composed quantized-ANN SERVING path
        # (extras_emb._emb_quantized_ann_rerank minus the
        # measurement-only ground-truth crossJoin): int8-quantize the
        # corpus -> assign IVF cells on the DEQUANTIZED approximations
        # -> probe 2 cells per query -> top-30 approximate shortlist ->
        # exact float re-rank. FIXED k=8 (the kmeans_refine constant-k
        # rationale): quantize + assign are O(n·k·dim) scans, the probe
        # touches n_probe/k of the corpus, the re-rank a constant 30
        # rows/query — honest expectation time ∝ mult. Production grows
        # k with n to hold cell size constant; that regime's smoke is
        # the semantic_dedup/knn constant-cell rows.
        from pyspark.sql import Window

        from etl_instagram_spark.operators.similarity import (
            _nearest_centroids,
            dequantize_col,
            ivf_cell,
            quantize_embeddings,
        )
        from etl_instagram_spark.plans.q_shared import _as_double, _dot

        emb = spark.read.parquet(emb_path).localCheckpoint()
        cents = fit_ivf_centroids(emb, n_clusters=8, seed=42, order_col="vec_id")
        qrows = sorted(
            emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect(),
            key=lambda r: r["vec_id"],
        )  # 5 fixed query vectors — O(1) driver bytes
        q = F.broadcast(
            spark.createDataFrame(
                [
                    (
                        int(r["vec_id"]),
                        [float(x) for x in r["embedding"]],
                        _nearest_centroids(
                            [float(x) for x in r["embedding"]], cents, 2
                        ),
                    )
                    for r in qrows
                ],
                "qid long, qv array<double>, qcells array<int>",
            )
        )

        def _qcos(a, b):
            return F.round(
                _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))), 6
            )

        def _run_qann():
            # pinned like the emb_quantized_ann_rerank row
            # (plans/extras_emb.py): projection collapse
            # would inline the quantize -> dequantize chain into every
            # unrolled ivf_cell term and both cosine legs otherwise —
            # and a real vector store PERSISTS its codes + cells
            store = (
                quantize_embeddings(emb, "embedding", "vec_id")
                .withColumn("dq", dequantize_col(F.col("q"), F.col("scale")))
                .withColumn("cell", ivf_cell("dq", cents))
                .select("vec_id", "dq", "cell")
                .localCheckpoint(eager=True)
            )
            cand = store.join(
                q, F.array_contains(F.col("qcells"), F.col("cell"))
            )
            w_apx = Window.partitionBy("qid").orderBy(
                F.col("acos").desc(), F.col("vec_id")
            )
            shortlist = (
                cand.withColumn("acos", _qcos(F.col("dq"), F.col("qv")))
                .withColumn("r", F.row_number().over(w_apx))
                .filter(F.col("r") <= 30)
                .select("qid", "vec_id", "qv")
            )
            floats = emb.select(
                "vec_id", _as_double(F.col("embedding")).alias("v")
            )
            w_ex = Window.partitionBy("qid").orderBy(
                F.col("ecos").desc(), F.col("vec_id")
            )
            return (
                floats.join(F.broadcast(shortlist), "vec_id")
                .withColumn("ecos", _qcos(F.col("v"), F.col("qv")))
                .withColumn("r", F.row_number().over(w_ex))
                .filter(F.col("r") <= 10)
                .count()
            )

        res = {
            "sec": timed(_run_qann),
            "params": {
                "k": 8,
                "n_probe": 2,
                "shortlist": 30,
                "queries": 5,
                "note": "serving path only; gt crossJoin excluded",
            },
        }
    elif op == "kmeans_refine":
        # constant k: one distributed Lloyd's iteration is O(n·k·dim),
        # so at fixed k the honest expectation is time ∝ n (clustering
        # as deliverable; ANN quantizers that grow k with n are covered
        # by the semantic_dedup/knn rows' constant-cell-size protocol)
        from etl_instagram_spark.operators.clustering import refine_centroids

        emb = spark.read.parquet(emb_path).localCheckpoint()
        cents = fit_ivf_centroids(emb, n_clusters=16, order_col="vec_id")
        res = {
            "sec": timed(lambda: refine_centroids(emb, cents, n_iter=1)),
            "params": {"k": 16, "n_iter": 1},
        }
    elif op == "span_dedup":
        # ExactSubstr duplicate-span removal: one O(total-words) hash
        # shuffle to find repeated n-grams, removal join touches only
        # duplicate occurrences — honest expectation is time ∝ n (the
        # disjoint-vocabulary copies replicate the span-dup structure
        # per copy without cross-copy spans)
        from etl_instagram_spark.operators.cleanup import remove_duplicate_spans

        docs = spark.read.parquet(docs_path).localCheckpoint()
        res = {
            "sec": timed(
                lambda: remove_duplicate_spans(docs, "doc_id", "text", n=13).count()
            ),
            "params": {"n": 13},
        }
    elif op == "curate_corpus":
        # the composed pipeline: quality → exact dedup → near dedup →
        # decontamination → PII → split → span edit. Benchmark side is
        # CONSTANT size (first 20 base docs) as in production, where the
        # eval suite doesn't grow with the corpus.
        from etl_instagram_spark.pipelines.pretrain import curate_corpus

        docs = spark.read.parquet(docs_path).localCheckpoint()
        bench = (
            spark.read.parquet(docs_path)
            .orderBy("doc_id")
            .limit(20)
            .select("text")
            .localCheckpoint()
        )

        def _run_curate():
            kept, rejected = curate_corpus(
                docs, benchmark=bench, dedup_spans_n=13
            )
            kept.count()
            rejected.count()

        res = {
            "sec": timed(_run_curate),
            "params": {
                "near_dup_threshold": 0.7,
                "decontamination_n": 13,
                "dedup_spans_n": 13,
                "benchmark_rows": 20,
            },
        }
    elif op == "dsir_select":
        # fit (two counting passes) + score + Gumbel top-k select. The
        # model is O(n_buckets) at ANY corpus size (constant by design,
        # like production); honest expectation is time ∝ n.
        from pyspark.sql import functions as SF

        from etl_instagram_spark.operators.dsir import fit_dsir, importance_sample

        docs = spark.read.parquet(docs_path).localCheckpoint()
        target = docs.filter(SF.col("lang") == "en").localCheckpoint()

        def _run_dsir():
            model = fit_dsir(docs, target, n_buckets=4096)
            importance_sample(docs, model, k=100).count()

        res = {
            "sec": timed(_run_dsir),
            "params": {"n_buckets": 4096, "k": 100},
        }
    elif op == "pagerank":
        # iterative-join kernel: each power iteration is one key-equi
        # join + one partially-aggregated groupBy over the edge list, so
        # the honest expectation is time ∝ edges · n_iter. The scaled
        # graph is `mult` disjoint id-shifted copies of the base
        # customer↔supplier graph — per-copy structure identical, no
        # cross-copy edges (same replicate-don't-correlate protocol as
        # the documents scaling).
        from etl_instagram_spark.operators.graph import (
            bipartite_order_edges,
            pagerank,
        )

        od = spark.read.parquet(f"{BASE_SF}/orders.parquet")
        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        edges = _disjoint_edge_copies(bipartite_order_edges(od, li), mult)
        res = {
            "sec": timed(
                lambda: pagerank(edges, n_iter=3)
                .agg(F.sum("rank_micro"))
                .collect()
            ),
            "params": {"n_iter": 3},
        }
    elif op == "triangles":
        # oriented-wedge triangle counting over the co-purchase
        # projection: wedge volume is sum(d(v)^2), so with `mult`
        # disjoint id-shifted copies of the same graph the honest
        # expectation is time ∝ mult (structure replicates, no
        # cross-copy wedges)
        from etl_instagram_spark.operators.graph import (
            copurchase_edges,
            triangle_counts,
        )

        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        edges = _disjoint_edge_copies(copurchase_edges(li, min_orders=2), mult)
        res = {
            "sec": timed(
                lambda: triangle_counts(edges)
                .agg(F.sum("n_triangles"))
                .collect()
            ),
            "params": {"min_orders": 2},
        }
    elif op == "hll":
        # cross-engine-exact HyperLogLog: one scan of codegen hash/rho
        # expressions + a partially-aggregated groupBy bounded at
        # groups*2^b rows — honest expectation is time ∝ n with a flat
        # shuffle. (The disjoint-vocabulary copies make scaled TEXT
        # genuinely distinct, so register saturation also scales.)
        from etl_instagram_spark.operators.sketches import hll_summary

        docs = spark.read.parquet(docs_path).localCheckpoint()
        res = {
            "sec": timed(
                lambda: hll_summary(docs, "text", ["lang"], b=12).count()
            ),
            "params": {"b": 12},
        }
    elif op == "dcm_quantiles":
        # dyadic count-min quantile sketch: one scan exploding each
        # value into ≤ d·b register rows + a counting groupBy bounded
        # at groups·d·w·b rows REGARDLESS of input size; the b-round
        # bit descent then probes a groups×quantiles frame against the
        # pinned tiny register frame — honest expectation is time ∝ n
        # for the sketch and FLAT for the descent.
        from etl_instagram_spark.operators.sketches import (
            dcm_quantiles,
            dcm_sketch,
        )

        docs = (
            spark.read.parquet(docs_path)
            .select("lang", F.col("n_chars").alias("v"))
            .localCheckpoint()
        )

        def _run_dcm():
            sk = dcm_sketch(docs, "v", ["lang"])
            dcm_quantiles(
                sk, [(1, 4), (1, 2), (3, 4), (19, 20)], ["lang"]
            ).count()

        res = {
            "sec": timed(_run_dcm),
            "params": {"quantiles": 4},
        }
    elif op in ("cm_frequency", "funnel"):
        # the two r13 gate promotions, measured like every other gated
        # family. Disjoint-user copies of the events table: both ops
        # are per-(type,user) / per-user, so the protocol replicates
        # the structure without cross-copy interaction.
        # cm_frequency: one explode+counting groupBy whose output is
        # bounded at d·w rows per event_type REGARDLESS of input — the
        # honest expectation is time ∝ n with a flat register shuffle.
        # funnel: k−1 SHRINKING key-equi joins (level frames only lose
        # users), no window over the raw stream — time ∝ n.
        ev = spark.read.parquet(f"{BASE_SF}/events.parquet")
        copies = [
            ev.select(
                (F.col("user_id") + F.lit(c * 100_000_000)).alias("user_id"),
                "event_type",
                "ts",
            )
            for c in range(mult)
        ]
        big = copies[0]
        for cp in copies[1:]:
            big = big.unionByName(cp)
        big = big.localCheckpoint()
        if op == "cm_frequency":
            from etl_instagram_spark.operators.sketches import cm_sketch

            res = {
                "sec": timed(
                    lambda: cm_sketch(
                        big, "user_id", ["event_type"], w=256, d=4
                    ).count()
                ),
                "params": {"w": 256, "d": 4},
            }
        else:
            from etl_instagram_spark.operators.funnel import funnel_summary

            res = {
                "sec": timed(
                    lambda: funnel_summary(
                        big,
                        "user_id",
                        "ts",
                        [
                            F.col("event_type") == "view",
                            F.col("event_type") == "click",
                            F.col("event_type") == "purchase",
                        ],
                        within_seconds=7 * 24 * 3600,
                    ).count()
                ),
                "params": {"levels": 3, "within_days": 7},
            }
    elif op == "pagerank_hubskew":
        # the pinned-edge-layout design under hub skew: copies SHARE the
        # hub (node 0 in ~30% of edges, both directions), so the hub's
        # in/out degree grows ∝ mult. Per round the hub's inflow is one
        # partially-aggregated groupBy key (map-side combine collapses
        # its contributions per partition before the shuffle) and its
        # outflow is rank div outdeg per edge — both ∝ edges, so the
        # honest expectation is time ∝ mult with no skew blow-up.
        from etl_instagram_spark.operators.graph import pagerank

        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        peers = (
            li.select(F.col("l_partkey").alias("v"))
            .distinct()
            .withColumn("__h", F.abs(F.hash("v")))
        )
        hub = peers.filter(F.col("__h") % 10 < 3).select(
            F.lit(0).cast("long").alias("src"),
            F.col("v").cast("long").alias("dst"),
        )
        chords = (
            peers.alias("a")
            .join(
                peers.alias("b"),
                (F.col("a.__h") % 997) == (F.col("b.__h") % 997),
            )
            .filter(F.col("a.v") != F.col("b.v"))
            .select(
                F.col("a.v").cast("long").alias("src"),
                F.col("b.v").cast("long").alias("dst"),
            )
        )
        base_edges = (
            hub.unionByName(hub.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .unionByName(chords)
        )
        copies = [
            base_edges.select(
                F.when(F.col("src") == 0, F.lit(0).cast("long"))
                .otherwise(F.col("src") + F.lit(c * 100_000_000))
                .alias("src"),
                F.when(F.col("dst") == 0, F.lit(0).cast("long"))
                .otherwise(F.col("dst") + F.lit(c * 100_000_000))
                .alias("dst"),
            )
            for c in range(mult)
        ]
        edges = copies[0]
        for cp in copies[1:]:
            edges = edges.unionByName(cp)
        edges = edges.localCheckpoint()
        n_edges = edges.count()
        res = {
            "sec": timed(
                lambda: pagerank(edges, n_iter=3)
                .agg(F.sum("rank_micro"))
                .collect()
            ),
            "params": {"n_iter": 3, "hub_edge_frac": 0.3, "n_edges": n_edges},
        }
    elif op == "triangles_hubskew":
        # degree-ordered orientation under hub skew: copies SHARE node 0
        # (only non-hub ids shift per copy), and node 0 sits in ~30% of
        # base edges — so the hub's degree grows ∝ mult. Under the old
        # id-ordered middle join the hub's wedge volume is d(0)², i.e.
        # mult² growth; degree-ordered orientation builds no wedges at
        # the hub (it is the ≺-largest corner almost everywhere), so the
        # honest expectation is time ∝ mult.
        from etl_instagram_spark.operators.graph import triangle_counts

        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        peers = (
            li.select(F.col("l_partkey").alias("v"))
            .distinct()
            .withColumn("__h", F.abs(F.hash("v")))
        )
        # ~3 deterministic chord partners per peer + one hub edge per
        # ~3.3 peers → hub in ~30% of edges
        hub = peers.filter(F.col("__h") % 10 < 3).select(
            F.lit(0).cast("long").alias("src"), F.col("v").cast("long").alias("dst")
        )
        chords = (
            peers.alias("a")
            .join(
                peers.alias("b"),
                (F.col("a.__h") % 997) == (F.col("b.__h") % 997),
            )
            .filter(F.col("a.v") < F.col("b.v"))
            .select(
                F.col("a.v").cast("long").alias("src"),
                F.col("b.v").cast("long").alias("dst"),
            )
        )
        base_edges = hub.unionByName(chords)
        copies = [
            base_edges.select(
                F.when(F.col("src") == 0, F.lit(0).cast("long"))
                .otherwise(F.col("src") + F.lit(c * 100_000_000))
                .alias("src"),
                (F.col("dst") + F.lit(c * 100_000_000)).alias("dst"),
            )
            for c in range(mult)
        ]
        edges = copies[0]
        for cp in copies[1:]:
            edges = edges.unionByName(cp)
        edges = edges.localCheckpoint()
        n_edges = edges.count()
        res = {
            "sec": timed(
                lambda: triangle_counts(edges)
                .agg(F.sum("n_triangles"))
                .collect()
            ),
            "params": {"hub_edge_frac": 0.3, "n_edges": n_edges},
        }
    elif op == "pagerank_srchub":
        # src-side power-law guard: ONE hub is the SOURCE of ~23% of
        # all edges — the case repartition(src) cannot spread (every
        # hub edge hashes to the same partition, unlike
        # pagerank_hubskew where the shared hub's as-src share stays
        # ~1.5%). hot_src_threshold=16384 is the constant per-task
        # adjacency target (the smoke convention: index parameters
        # hold expected bucket size constant), so the salt count k =
        # ceil(out/16384) adapts — 2 at base, 13 at 10x — and the
        # honest expectation is time ∝ mult with the hub's join fan-out
        # bounded at threshold edges per task regardless of mult.
        from etl_instagram_spark.operators.graph import pagerank

        n_nodes = 20_000 * mult
        nv = spark.range(1, n_nodes + 1).select(
            F.col("id").cast("long").alias("v")
        )
        chords = None
        for a in (7013, 104729, 1299721):  # 3 fixed-stride chords/node
            part = nv.select(
                F.col("v").alias("src"),
                (F.col("v") * a % n_nodes + 1).cast("long").alias("dst"),
            ).filter(F.col("src") != F.col("dst"))
            chords = part if chords is None else chords.unionByName(part)
        hub_out = nv.select(
            F.lit(0).cast("long").alias("src"), F.col("v").alias("dst")
        )
        hub_in = nv.filter(F.col("v") % 10 == 0).select(
            F.col("v").alias("src"), F.lit(0).cast("long").alias("dst")
        )
        edges = chords.unionByName(hub_out).unionByName(hub_in).localCheckpoint()
        n_edges = edges.count()
        res = {
            "sec": timed(
                lambda: pagerank(edges, n_iter=3, hot_src_threshold=16384)
                .agg(F.sum("rank_micro"))
                .collect()
            ),
            "params": {
                "n_iter": 3,
                "hub_out_edges": n_nodes,
                "n_edges": n_edges,
                "hot_src_threshold": 16384,
            },
        }
    elif op in ("entity_hotblock_guarded", "entity_hotblock_guarded_30x"):
        # the hot-block guard under an adversarial key: ~30% of all
        # rows land in ONE block shared ACROSS copies (the stopword-key
        # degenerate case), so unguarded pair volume grows ∝ mult² —
        # max_block_size=64 excludes the hot block deterministically,
        # and the honest expectation for the guarded run is time ∝ mult.
        # The _30x variant pins mult=30 with the SAME constant cap: the
        # hot block alone would cost ~(0.3·n·30)²/2 ≈ 1.5·10^10 pair
        # comparisons unguarded (~900× the 1× point); guarded, the
        # whole stage stays rows·cap-bounded.
        from etl_instagram_spark.operators.entity import resolve_entities

        fixed_30x = op.endswith("_30x")
        if fixed_30x and mult != 1:
            mult = 30
        pa = spark.read.parquet(f"{BASE_SF}/part.parquet")
        copies = []
        for c in range(mult):
            cp = pa.select(
                (F.col("p_partkey") + F.lit(c * 100_000_000)).alias("id"),
                (
                    F.regexp_replace("p_name", r"(\S+)", f"c{c}~$1")
                    if c
                    else F.col("p_name")
                ).alias("name"),
            )
            copies.append(cp)
        names = copies[0]
        for cp in copies[1:]:
            names = names.unionByName(cp)
        names = names.localCheckpoint()
        block = F.when(
            F.abs(F.hash(F.col("id"))) % 10 < 3, F.lit("HOT")
        ).otherwise(
            F.element_at(F.split(F.trim(F.lower(F.col("name"))), " "), -1)
        )
        res = {
            "sec": timed(
                lambda: resolve_entities(
                    names, "id", "name", block, max_dist=3, max_block_size=64
                ).count()
            ),
            "params": {
                "max_dist": 3,
                "block": "30%-HOT + last_token",
                "max_block_size": 64,
                "mult": mult,
                **(
                    {
                        "note": (
                            "mult pinned to 30 regardless of --mult/"
                            "data_mult — time_ratio here is 30x/1x"
                        )
                    }
                    if fixed_30x
                    else {}
                ),
            },
        }
    elif op == "entity_snm":
        # sorted-neighborhood blocking: pair volume is EXACTLY
        # n·(window−1) whatever the key distribution, so the honest
        # expectation is time ∝ mult even with the 30%-hot shared
        # token that breaks key blocking (names get per-copy prefixes,
        # the sort order interleaves copies — no structural shortcut)
        from etl_instagram_spark.operators.entity import (
            sorted_neighborhood_pairs,
        )

        pa = spark.read.parquet(f"{BASE_SF}/part.parquet")
        copies = []
        for c in range(mult):
            cp = pa.select(
                (F.col("p_partkey") + F.lit(c * 100_000_000)).alias("id"),
                (
                    F.regexp_replace("p_name", r"(\S+)", f"c{c}~$1")
                    if c
                    else F.col("p_name")
                ).alias("name"),
            )
            copies.append(cp)
        names = copies[0]
        for cp in copies[1:]:
            names = names.unionByName(cp)
        names = names.localCheckpoint()
        res = {
            "sec": timed(
                lambda: sorted_neighborhood_pairs(
                    names, "id", "name", window=4, max_dist=3
                ).count()
            ),
            "params": {"window": 4, "max_dist": 3},
        }
    elif op == "k_core":
        # synchronous peel: per round one degree groupBy + two
        # semi-joins over a shrinking edge set; disjoint id-shifted
        # copies replicate the peel structure, so rounds stay constant
        # and the honest expectation is time ∝ mult
        from etl_instagram_spark.operators.graph import (
            copurchase_edges,
            k_core,
        )

        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        edges = _disjoint_edge_copies(copurchase_edges(li, min_orders=2), mult)
        res = {
            "sec": timed(
                lambda: k_core(edges, k=3)
                .agg(F.sum("core_degree"))
                .collect()
            ),
            "params": {"k": 3},
        }
    elif op == "entity_resolution":
        # blocking bounds the pair stage at sum(|block|^2): `mult`
        # copies with EVERY word prefixed per copy (the documents
        # protocol) keep blocks disjoint across copies and edit
        # distances identical within them, so the honest expectation is
        # pairs (and time) ∝ mult. The block key is (last token,
        # p_brand) — the composite demonstrates the operator's scale
        # lever: block-size control IS the knob, exactly as documented.
        from etl_instagram_spark.operators.entity import resolve_entities

        pa = spark.read.parquet(f"{BASE_SF}/part.parquet")
        copies = []
        for c in range(mult):
            cp = pa.select(
                (F.col("p_partkey") + F.lit(c * 100_000_000)).alias("id"),
                (
                    F.regexp_replace("p_name", r"(\S+)", f"c{c}~$1")
                    if c
                    else F.col("p_name")
                ).alias("name"),
                F.col("p_brand").alias("brand"),
            )
            copies.append(cp)
        names = copies[0]
        for cp in copies[1:]:
            names = names.unionByName(cp)
        names = names.localCheckpoint()
        block = F.concat_ws(
            "\x1f",
            F.element_at(F.split(F.trim(F.lower(F.col("name"))), " "), -1),
            F.col("brand"),
        )
        res = {
            "sec": timed(
                lambda: resolve_entities(
                    names, "id", "name", block, max_dist=3
                ).count()
            ),
            "params": {"max_dist": 3, "block": "last_token+brand"},
        }
    elif op == "bm25_topk":
        # BM25 retrieval: two corpus scans (stats, then score) with ONE
        # broadcast O(1)-row stats frame and a TakeOrdered top-k — the
        # corpus is never shuffled, so the honest expectation is time
        # ∝ n. Query terms come from the BASE vocabulary; copies c>0
        # carry disjoint prefixed vocabularies, so matches stay
        # copy-0-local while the scoring scan (the cost driver) covers
        # all n rows — the replicate-don't-correlate protocol.
        from etl_instagram_spark.operators.retrieval import bm25_topk

        docs = spark.read.parquet(docs_path).localCheckpoint()
        res = {
            "sec": timed(
                lambda: bm25_topk(
                    docs, "doc_id", "text", ["spark", "join", "vector"], k=10
                ).count()
            ),
            "params": {"k": 10, "terms": 3},
        }
    elif op == "bm25_index_build":
        # the heavy half of the r14 inverted-index face: one tokenize
        # scan + explode + counting groupBy (Σ tokens shuffle rows into
        # an O(vocab × docs-per-term) postings table) + a 1-row corpus
        # agg — honest expectation is time ∝ n. (The query half is
        # O(query-term postings) by construction — measured implicitly
        # by the pushdown plan pin, not worth a smoke row.)
        from etl_instagram_spark.operators.retrieval import build_bm25_index

        docs = spark.read.parquet(docs_path).localCheckpoint()
        def _run_build():
            postings, corpus = build_bm25_index(docs, "doc_id", "text")
            postings.count()
            corpus.count()

        res = {
            "sec": timed(_run_build),
            "params": {},
        }
    elif op == "graph_chain":
        # the COMPOSED graph-family pipeline (SURVEY §8 composition
        # chain): weighted co-purchase projection → k-core denoise →
        # core-restricted symmetrized edges → weighted hub-capped
        # deterministic walks. Each stage has its own scale row
        # (k_core, pagerank/walk kernels, copurchase inside them); this
        # row measures the composition end-to-end. Disjoint id-shifted
        # copies of the weighted edge list replicate per-copy structure
        # (peel rounds stay constant, every stage shrinks or preserves
        # the edge set), so the honest expectation is time ∝ mult.
        from etl_instagram_spark.operators.graph import (
            copurchase_edges,
            k_core,
            random_walks,
        )

        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        edges = _disjoint_edge_copies(
            copurchase_edges(li, min_orders=2, weights=True),
            mult,
            extra_cols=("n_orders",),
        )

        def _run_chain():
            core = k_core(edges, k=3, max_rounds=12).localCheckpoint(
                eager=True
            )
            ids = core.select("id")
            ce = (
                edges.join(
                    ids.withColumnRenamed("id", "src"), "src", "leftsemi"
                )
                .join(ids.withColumnRenamed("id", "dst"), "dst", "leftsemi")
                .select("src", "dst", "n_orders")
            )
            sym = ce.unionByName(
                ce.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "n_orders",
                )
            ).localCheckpoint(eager=True)
            random_walks(
                sym,
                walk_len=4,
                seed="compose",
                max_degree=8,
                weight_col="n_orders",
            ).count()

        res = {
            "sec": timed(_run_chain),
            "params": {"k": 3, "walk_len": 4, "max_degree": 8},
        }
    elif op == "label_propagation":
        # synchronous LPA communities (r15, operators/graph.py): per
        # round one key-equi join of the label frame against the pinned
        # symmetric edge list + two map-side-combinable aggs — the
        # PageRank shuffle shape. Disjoint id-shifted copies replicate
        # per-copy structure (votes never cross copies), so the honest
        # expectation is time ∝ mult.
        from etl_instagram_spark.operators.graph import (
            copurchase_edges,
            label_propagation,
        )

        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        edges = _disjoint_edge_copies(copurchase_edges(li, min_orders=2), mult)

        res = {
            "sec": timed(
                lambda: label_propagation(edges, n_rounds=4).count()
            ),
            "params": {"n_rounds": 4},
        }
    elif op == "node2vec":
        # second-order biased walks (random_walks with far_w=2): per
        # step one key-equi join of the O(nodes) frontier (prev's
        # adjacency rides in the frontier row) with in-array O(cap²)
        # weight/prefix work. Disjoint
        # id-shifted copies replicate per-copy structure — the honest
        # expectation is time ∝ mult.
        from etl_instagram_spark.operators.graph import (
            copurchase_edges,
            random_walks,
        )

        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        edges = _disjoint_edge_copies(copurchase_edges(li, min_orders=2), mult)

        sec, mt = max_job_tasks(
            spark,
            lambda: random_walks(
                edges, walk_len=4, seed="sm", far_w=2, max_degree=16
            ).count(),
        )
        res = {
            "sec": sec,
            "params": {
                "walk_len": 4,
                "far_w": 2,
                "max_degree": 16,
                "max_job_tasks": mt,
            },
        }
    elif op == "walk_embed":
        # walk co-occurrence → PPMI → random-projection embeddings
        # (r15, operators/graph_embed.py) over the deterministic walk
        # corpus. Disjoint id-shifted copies of the co-purchase edge
        # list replicate per-copy structure, so walks, window pairs,
        # PPMI cells, and the cells×dim projection rows all grow
        # ∝ mult — the honest expectation is time ∝ mult (the marginal
        # joins and the (node, d) hash agg are all key-partitioned,
        # nothing quadratic).
        from etl_instagram_spark.operators.graph import (
            copurchase_edges,
            random_walks,
        )
        from etl_instagram_spark.operators.graph_embed import (
            ppmi_scores,
            walk_cooccurrence,
            walk_embeddings,
        )

        li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        edges = _disjoint_edge_copies(copurchase_edges(li, min_orders=2), mult)

        def _run_embed():
            walks = random_walks(edges, walk_len=4, seed="sm", max_degree=16)
            walk_embeddings(
                ppmi_scores(walk_cooccurrence(walks, window=2)),
                dim=16,
                seed="sm",
            ).count()

        sec, mt = max_job_tasks(spark, _run_embed)
        res = {
            "sec": sec,
            "params": {
                "walk_len": 4,
                "window": 2,
                "dim": 16,
                "max_job_tasks": mt,
            },
        }
    elif op == "kmv_overlap":
        # KMV set-overlap sketches (r14): sketch build = one distinct-
        # shuffle of (source, shingle-hash) + the salted two-stage
        # top-k (state ≤ k rows/group); the pairwise overlap then works
        # on k-sets only, so its cost is data-size-INDEPENDENT — the
        # honest expectation is time ∝ n for the build with the pair
        # stage flat. Scaled docs carry disjoint prefixed vocabularies
        # per copy (the replicate-don't-correlate protocol), so distinct
        # shingles grow ~linearly while per-source k stays saturated.
        from etl_instagram_spark.functions import text as T
        from etl_instagram_spark.operators.kmv import kmv_overlap, kmv_sketch

        docs = spark.read.parquet(docs_path).localCheckpoint()
        ts = T.tokens(F.col("text"))
        grams = F.when(
            F.size(ts) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(ts, i),
                    F.element_at(ts, i + 1),
                    F.element_at(ts, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        sh = docs.select("source", F.explode(grams).alias("shingle"))

        def _run_kmv():
            sk = kmv_sketch(sh, "shingle", ["source"], k=256)
            kmv_overlap(sk, "source", k=256).count()

        res = {
            "sec": timed(_run_kmv),
            "params": {"k": 256},
        }
    elif op == "kmv_sample":
        # bottom-k sampling (r14): one distinct-shuffle to build the
        # per-lang k-set, then ONE corpus scan through a broadcast
        # LeftSemi — the honest expectation is time ∝ n with the k-set
        # side flat (fixed-SIZE sample regardless of corpus growth,
        # which is the operator's point).
        from etl_instagram_spark.operators.kmv import kmv_sample

        docs = spark.read.parquet(docs_path).localCheckpoint()
        res = {
            "sec": timed(
                lambda: kmv_sample(docs, "doc_id", ["lang"], k=256).count()
            ),
            "params": {"k": 256},
        }
    elif op == "pixel_features":
        # the REAL multimodal decode path (r14): stdlib PNG/JPEG decode
        # → numpy pixel statistics inside ONE Arrow-batched mapInPandas
        # — pure per-row Python work with no shuffle, so the honest
        # expectation is time ∝ n (embarrassingly parallel; at cluster
        # scale this is the map stage that dominates any image-corpus
        # ingest). Base = 48 distinct 64×64 RGB images, HALF PNG and
        # HALF baseline JPEG since r15 (re-based per the r14 verdict:
        # the JPEG side now exercises the batched-numpy IDCT/upsample
        # fast path at a real image size, where the r14 smoke measured
        # PNG only); deterministic gradient family, encoded driver-side
        # once — copies replicate rows via a range cross-join so decode
        # COST scales while the driver-side fixture build stays O(base).
        import pandas as pd

        from etl_instagram_spark.multimodal.images import pixel_features
        from etl_instagram_spark.multimodal.png import encode_png

        # the test-local independent JPEG encoder (the package ships a
        # decoder only, by design)
        sys.path.insert(
            0,
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "tests",
            ),
        )
        from test_jpeg import encode_jpeg

        side = 64
        base = []
        for i in range(48):
            px = bytearray()
            for y in range(side):
                for x in range(side):
                    px.append((x * 4 + i * 5) & 0xFF)
                    px.append((y * 4 + i * 11) & 0xFF)
                    px.append((x + y + i * 23) & 0xFF)
            enc = (
                encode_png(side, side, bytes(px))
                if i % 2 == 0
                else encode_jpeg(bytes(px), side, side, 3, subsample=True)
            )
            base.append((f"img{i:02d}", enc))
        pdf = pd.DataFrame(base, columns=["id", "content"])
        blobs = (
            spark.createDataFrame(pdf)
            .crossJoin(spark.range(16 * mult).withColumnRenamed("id", "rep"))
            .select(
                F.concat_ws("_", "id", F.col("rep").cast("string")).alias("id"),
                "content",
            )
            .repartition(32)
            .localCheckpoint()
        )
        res = {
            "sec": timed(lambda: pixel_features(blobs).count()),
            "params": {"side": side, "base_images": 48, "reps_per_image": 16 * mult},
        }
    elif op == "bm25_maintain":
        # the continuous BM25 index face (r15): ONE apply_bm25_delta
        # tick folding the whole docs table as a new epoch into empty
        # stores — the per-tick cost of incremental maintenance, whose
        # claim is O(new docs): one tokenize scan + the postings
        # counting groupBy + two upserts, so the honest expectation is
        # time ∝ batch size (the stores start empty both times; the
        # steady-state store-probe cost is bench.py's tick territory).
        import shutil as _shutil
        import tempfile as _tempfile

        from etl_instagram_spark.operators.merge import MergeTable
        from etl_instagram_spark.streaming.incremental import apply_bm25_delta

        docs = spark.read.parquet(docs_path).localCheckpoint()
        work = _tempfile.mkdtemp(prefix="smoke_bm25m_")
        try:
            ps = MergeTable(
                spark,
                os.path.join(work, "p"),
                ["epoch_id", "term", "doc_id"],
            )
            cs = MergeTable(spark, os.path.join(work, "c"), ["epoch_id"])
            res = {
                "sec": timed(
                    lambda: apply_bm25_delta(ps, cs, docs, 0, "doc_id", "text")
                ),
                "params": {"epochs": 1},
            }
        finally:
            _shutil.rmtree(work, ignore_errors=True)
    elif op == "mjpeg_sample":
        # the REAL video path (r15): RIFF/AVI container walk + stored-
        # frame pick inside ONE Arrow-batched mapInPandas — no JPEG
        # decode in the sampling stage (pixels are downstream,
        # pixel_features territory), so the honest expectation is
        # time ∝ n clips. Base = 12 distinct 10-frame 32×32 MJPEG
        # clips; copies replicate rows so container-walk COST scales.
        import pandas as pd

        from etl_instagram_spark.multimodal.media import sample_frames

        sys.path.insert(
            0,
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "tests",
            ),
        )
        from test_avi import encode_avi
        from test_jpeg import encode_jpeg

        side = 32
        base = []
        for i in range(12):
            frames = [
                encode_jpeg(
                    bytes(
                        ((x * 3 + y * 5 + 17 * i + 40 * j) % 256)
                        for y in range(side)
                        for x in range(side)
                    ),
                    side,
                    side,
                    1,
                )
                for j in range(10)
            ]
            base.append((f"clip{i:02d}", encode_avi(frames, side, side, 40_000)))
        pdf = pd.DataFrame(base, columns=["id", "content"])
        blobs = (
            spark.createDataFrame(pdf)
            .crossJoin(spark.range(16 * mult).withColumnRenamed("id", "rep"))
            .select(
                F.concat_ws("_", "id", F.col("rep").cast("string")).alias("id"),
                "content",
            )
            .repartition(32)
            .localCheckpoint()
        )
        res = {
            "sec": timed(
                lambda: sample_frames(
                    blobs, every_ms=100, max_frames=8, decoder="mjpeg"
                ).count()
            ),
            "params": {"side": side, "frames_per_clip": 10,
                       "base_clips": 12, "reps_per_clip": 16 * mult},
        }
    elif op == "wav_features":
        # the REAL audio decode path (r15): stdlib RIFF/PCM parse →
        # numpy sample statistics inside ONE Arrow-batched mapInPandas
        # — the pixel_features shape for the second modality; honest
        # expectation is time ∝ n (no shuffle). Base = 48 distinct
        # half-second 16-bit mono clips (deterministic sine family,
        # encoded driver-side once); copies replicate rows so decode
        # COST scales while the fixture build stays O(base).
        import io
        import math as _math
        import wave as _wave

        import pandas as pd

        from etl_instagram_spark.multimodal.wav import wav_features

        rate, n_samp = 8000, 4000  # 0.5 s per clip
        base = []
        for i in range(48):
            freq = 200 + 37 * i
            buf = io.BytesIO()
            with _wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(
                    b"".join(
                        int(
                            12000 * _math.sin(2 * _math.pi * freq * t / rate)
                        ).to_bytes(2, "little", signed=True)
                        for t in range(n_samp)
                    )
                )
            base.append((f"clip{i:02d}", buf.getvalue()))
        pdf = pd.DataFrame(base, columns=["id", "content"])
        blobs = (
            spark.createDataFrame(pdf)
            .crossJoin(spark.range(16 * mult).withColumnRenamed("id", "rep"))
            .select(
                F.concat_ws("_", "id", F.col("rep").cast("string")).alias("id"),
                "content",
            )
            .repartition(32)
            .localCheckpoint()
        )
        res = {
            "sec": timed(lambda: wav_features(blobs).count()),
            "params": {"rate": rate, "n_samples": n_samp, "base_clips": 48,
                       "reps_per_clip": 16 * mult},
        }
    else:
        raise SystemExit(f"unknown op {op}")
    spark.stop()
    return res


OPS = (
    "jaccard_join",
    "fit_bpe",
    "knn_self_join",
    "semantic_dedup",
    "kmeans_refine",
    "span_dedup",
    "curate_corpus",
    "dsir_select",
    "pagerank",
    "pagerank_hubskew",
    "pagerank_srchub",
    "triangles",
    "triangles_hubskew",
    "hll",
    "dcm_quantiles",
    "cm_frequency",
    "funnel",
    "entity_resolution",
    "entity_hotblock_guarded",
    "entity_hotblock_guarded_30x",
    "entity_snm",
    "k_core",
    "bm25_topk",
    "bm25_index_build",
    "bm25_maintain",
    "graph_chain",
    "pixel_features",
    "wav_features",
    "mjpeg_sample",
    "kmv_overlap",
    "kmv_sample",
    "walk_embed",
    "label_propagation",
    "node2vec",
    "quantized_ann",
)


def run_ops(docs_path: str, emb_path: str, mult: int, ops=OPS) -> dict[str, dict]:
    import subprocess

    # 16g driver for the measured JVMs: at the 10x point the knn bucket
    # join's build side still falls under the broadcast threshold (it
    # would exceed it and fall back to a shuffle join at real scale),
    # and building that relation under local[32] task pressure needs
    # more headroom than the 8g default
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="16g")
    out: dict[str, dict] = {}
    for op in ops:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--run-op",
                op,
                "--docs-path",
                docs_path,
                "--emb-path",
                emb_path,
                "--mult",
                str(mult),
            ],
            capture_output=True,
            text=True,
            timeout=1800,
            env=env,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"{op} x{mult} failed:\n{proc.stderr[-3000:]}")
        out[op] = json.loads(proc.stdout.strip().splitlines()[-1])
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_SCALE.json"))
    ap.add_argument("--run-op", default=None, help="internal: measure one op and print JSON")
    ap.add_argument("--docs-path", default=None)
    ap.add_argument("--emb-path", default=None)
    ap.add_argument("--ops", default=None, help="comma list of ops (default: all); with an existing --out, results merge in")
    args = ap.parse_args()

    if args.run_op:
        print(json.dumps(run_one_op(args.run_op, args.docs_path, args.emb_path, args.mult)))
        return 0

    from etl_instagram_spark.session import get_spark

    spark = get_spark("scale-smoke")
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    docs_path = f"{WORK_DIR}/documents_x{args.mult}"
    emb_path = f"{WORK_DIR}/embeddings_x{args.mult}"
    scaled_documents(spark, args.mult, docs_path)
    scaled_embeddings(spark, args.mult, emb_path)

    base_docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    base_emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    big_docs = spark.read.parquet(docs_path)
    big_emb = spark.read.parquet(emb_path)
    rows = {
        "documents": {"base": base_docs.count(), "scaled": big_docs.count()},
        "embeddings": {"base": base_emb.count(), "scaled": big_emb.count()},
    }
    spark.stop()  # free the JVM before the measured subprocesses start

    ops = tuple(args.ops.split(",")) if args.ops else OPS
    small = run_ops(f"{BASE_SF}/documents.parquet", f"{BASE_SF}/embeddings.parquet", mult=1, ops=ops)
    big = run_ops(docs_path, emb_path, mult=args.mult, ops=ops)

    report = {
        "base_sf_dir": BASE_SF,
        "data_mult": args.mult,
        "resources": {
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "driver_mem": "16g",
            "isolation": "one fresh JVM per measurement",
            "autoBroadcastJoinThreshold": "-1 (at-scale join plans; explicit hints unaffected)",
        },
        "rows": rows,
        "ops": {
            name: {
                "base_sec": small[name]["sec"],
                "scaled_sec": big[name]["sec"],
                "time_ratio": round(big[name]["sec"] / max(small[name]["sec"], 1e-9), 2),
                "base_params": small[name]["params"],
                "scaled_params": big[name]["params"],
            }
            for name in small
        },
        "note": (
            "time_ratio ~= data_mult indicates linear scaling; index "
            "parameters (bits, n_clusters) scale with n to hold expected "
            "bucket/cell size constant, as they would in production"
        ),
    }
    if args.ops and os.path.exists(args.out):
        with open(args.out) as fh:  # subset run: merge into prior report
            prior = json.load(fh)
        prior["ops"].update(report["ops"])
        prior["rows"] = report["rows"]
        report = prior
    elif os.path.exists(args.out):
        # full run: the measured ops are all replaced, but the ab_notes
        # ledger (round-over-round measurement adjudications) must
        # survive — it documents WHY past ratios read the way they do
        with open(args.out) as fh:
            prior = json.load(fh)
        if "ab_notes" in prior:
            report["ab_notes"] = prior["ab_notes"]
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(report["ops"], indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
