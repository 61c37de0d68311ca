"""Physical-plan invariants for the query inventory — the automated form
of the explain-and-iterate discipline (SURVEY §7): correctness gates say
the ANSWER is right; these say the PLAN is the one we'd want at 100 TB.

Planning only (queryExecution().executedPlan before any action), so the
whole sweep costs seconds. AQE wraps plans in AdaptiveSparkPlan; the
initial physical plan is inspected, which is where scan pruning, pushed
filters, and join strategy choices are visible.
"""

from __future__ import annotations

import re

import pytest

from etl_instagram_spark.plans import all_queries, rotated_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    # non-gate rows keep their plan pins too
    fn = all_queries().get(name) or rotated_queries()[name][0]
    return fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def _scans(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def _scan_cols(scan_line: str) -> list[str]:
    m = re.search(r"FileScan parquet \[([^\]]*)\]", scan_line)
    cols = m.group(1) if m else ""
    return [c for c in cols.split(",") if c.strip()]


def test_no_unbroadcast_cartesian_products(spark):
    """Every query plans without a CartesianProduct: deliberate
    crossJoins (one-row / few-row query sides) must all have become
    BroadcastNestedLoopJoin via the broadcast hint. A plain cartesian at
    100 TB is a job that never finishes.

    Caveat: the two recall queries eagerly localCheckpoint their pair
    stage while BUILDING the DataFrame, so "planning" them executes real
    jobs (cheap at sf0.001 — accepted) and their inspected plan starts at
    the checkpoint's LogicalRDD: this sweep sees only the post-checkpoint
    window/join branches. The pre-checkpoint cross-join shape is asserted
    by test_recall_pair_stage_broadcasts below."""
    offenders = []
    for name in all_queries():
        if "CartesianProduct" in _plan(spark, name):
            offenders.append(name)
    assert not offenders, offenders


def test_recall_pair_stage_broadcasts(spark):
    """The recall queries' checkpointed query×corpus stage must itself
    plan the cross join with the tiny query side broadcast — covers the
    stage test_no_unbroadcast_cartesian_products cannot see."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.plans.q_emb import _recall_pairs
    from etl_instagram_spark.plans.q_shared import _as_double
    from etl_instagram_spark.plans.queries import _t

    emb = _t(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    plan = (
        _recall_pairs(emb, q, {})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_filters_reach_the_scan(spark):
    """Selective predicates must be pushed into the parquet scan
    (DataFilters/PushedFilters on the FileScan node), not applied after a
    full read — at 100 TB this is the difference between reading a slice
    and reading the table."""
    cases = {
        # query -> substring expected inside a FileScan line
        "q6_forecast_revenue": "l_shipdate",
        "q1_pricing_summary": "l_shipdate",
        "q3_unshipped_revenue": "o_orderdate",
        "orders_set_ops": "o_totalprice",
        # the mixture's source membership must prune the documents scan
        "docs_corpus_mixture": "src0",
    }
    for name, needle in cases.items():
        scan_lines = [ln for ln in _scans(_plan(spark, name)) if needle in ln]
        assert scan_lines, f"{name}: no FileScan carries a filter on {needle}"


def test_scans_are_column_pruned(spark):
    """Projections must reach the reader: a scan that reads every column
    for a few-column aggregate defeats columnar IO."""
    cases = {
        # query -> (table column marker, max columns the scan may read)
        "q6_forecast_revenue": ("l_shipdate", 4),
        "top3_orders_per_customer": ("o_custkey", 3),
        "orders_set_ops": ("o_custkey", 2),
        "docs_token_stats": ("text", 3),
        "emb_knn_cosine": ("embedding", 3),
        # round-5 gate queries: the hash predicates and line explodes are
        # projections, so the scans must stay narrow
        "docs_hash_split_sample": ("doc_id", 3),
        "docs_corpus_mixture": ("doc_id", 3),
        "docs_boilerplate_removal": ("text", 3),
        # round-6 gate queries: packing reads only (doc_id, n_chars);
        # the PII audit only (doc_id, source, text)
        "docs_pack_cumsum": ("n_chars", 2),
        "docs_pack_first_fit": ("n_chars", 2),
        "docs_pii_audit": ("text", 3),
        "docs_decontamination": ("text", 3),
        # BPE gate: the encode pass reads (source, text) only
        "docs_bpe_tokens": ("text", 2),
        # r10 gate queries: pagerank's edge build reads only the join
        # key + entity key per side; the leakage split only (doc_id,
        # text). pagerank eagerly checkpoints, so its inspected plan is
        # post-RDD — pin the edge-build stage directly instead.
        "docs_leakage_safe_split": ("doc_id", 2),
    }
    for name, (marker, max_cols) in cases.items():
        plan = _plan(spark, name)
        marked = [s for s in _scans(plan) if marker in s]
        assert marked, f"{name}: no scan reading {marker}"
        widths = [len(_scan_cols(s)) for s in marked]
        assert min(widths) <= max_cols, (name, marker, widths)
    # pagerank edge build: both fact scans stay at (join key, entity key)
    from etl_instagram_spark.operators.graph import bipartite_order_edges

    od = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    eplan = (
        bipartite_order_edges(od, li)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("o_custkey", "l_suppkey"):
        marked = [s for s in _scans(eplan) if marker in s]
        assert marked, f"edge build: no scan reading {marker}"
        assert min(len(_scan_cols(s)) for s in marked) <= 2, (marker, eplan)


def test_bounded_dimensions_broadcast(spark):
    """region/nation joins must plan as broadcast joins (static hints on
    the truly bounded dims) — never a shuffle exchange of the fact side
    keyed for a 25-row dimension."""
    for name in ("q5_region_revenue", "sql_brand_revenue"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


@pytest.mark.parametrize("name", ["q1_pricing_summary", "events_hypertable_rollup"])
def test_aggregations_combine_map_side(spark, name):
    """Wide aggregates must plan as partial (map-side) aggregation below
    the exchange, so the shuffle moves one row per (partition, group)
    instead of one row per input row — the single biggest shuffle-volume
    lever at 100 TB. (WholeStageCodegen markers are not visible in the
    AQE initial plan, so partial_* markers are the testable proxy for a
    codegen-friendly hash-agg pipeline.)"""
    plan = _plan(spark, name)
    assert re.search(r"partial_(sum|count|avg)", plan), name
    assert plan.index("partial_") > plan.index("Exchange")  # partial below


@pytest.mark.parametrize("name", ["q1_pricing_summary", "docs_token_stats"])
def test_scans_use_columnar_batch_reader(spark, name):
    """Parquet scans must be vectorized (Batched: true) — the interpreted
    row-by-row reader forfeits columnar decode throughput."""
    assert any("Batched: true" in s for s in _scans(_plan(spark, name))), name


def test_heavy_hitters_verify_pass_broadcasts(spark):
    """Pass 2 of the heavy-hitters operator must semi-join the candidate
    set via BroadcastHashJoin — the term domain is never shuffled."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.frequency import heavy_hitters

    terms = spark.range(200).select(
        F.concat(F.lit("t"), (F.col("id") % 7)).alias("term")
    )
    plan = (
        heavy_hitters(terms, "term", 1, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


def test_knn_self_join_is_equi_join(spark):
    """The kNN self-join's candidate stage must be a bucket EQUI-join —
    never a cartesian/nested-loop pair product."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.similarity import knn_self_join

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 3) % 17).cast("float") for i in range(8)]).alias(
            "embedding"
        ),
    )
    plan = (
        knn_self_join(emb, k=3, bits=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_join_candidate_stage_is_equi_join(spark):
    """jaccard_join's prefix self-join and verify joins must all be
    equi-joins (hash/sort-merge); the only allowed non-equi logic is the
    size/position FILTER conditions riding on the equi keys."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.dedup import jaccard_join

    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"w{j}_"), F.col("id") % 5) for j in range(8)]
        ).alias("text"),
    )
    plan = (
        jaccard_join(docs, "doc_id", "text", 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_candidates_are_an_equi_join(spark):
    """semantic_dedup_pairs must plan a hash/sort-merge join keyed on
    the cell id (the id inequality riding as a join condition) — the
    O(Σ cell²)-not-O(n²) claim, pinned at the plan level."""
    from etl_instagram_spark.operators.dedup import semantic_dedup_pairs
    from etl_instagram_spark.operators.similarity import fit_ivf_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = fit_ivf_centroids(emb, n_clusters=4, seed=42, order_col="vec_id")
    plan = (
        semantic_dedup_pairs(emb, "vec_id", "embedding", cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cap_per_group_plan_one_shuffle_with_group_limit(spark):
    """cap_per_group is one Exchange (the group-key shuffle) and Spark's
    WindowGroupLimit pushdown must engage — the rank filter prunes
    inside the sort, keeping shuffle output O(n · groups) instead of
    materializing whole groups."""
    from etl_instagram_spark.operators.sampling import cap_per_group

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        cap_per_group(docs, "source", "doc_id", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") == 1


def test_gopher_filter_stays_in_the_scan_stage(spark):
    """Every Gopher rule is a per-row expression: annotate + filter must
    plan with ZERO shuffles."""
    from etl_instagram_spark.operators.cleanup import gopher_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        gopher_filter(docs, "text")
        .filter("gopher_pass")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_pq_stored_codes_scan_never_reads_raw_vectors(spark, tmp_path):
    """The pure-ADC path over a stored codes column must plan a scan that
    reads (id, code) ONLY — never the raw embedding column. That narrow
    read IS product quantization's 100-TB payoff (m bytes/row vs
    dim×4), so it is pinned at the plan level."""
    from etl_instagram_spark.operators.similarity import (
        ann_pq_topk,
        fit_pq_codebooks,
        pq_code,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cbs = fit_pq_codebooks(emb, m=8, k=16, seed=42, order_col="vec_id")
    path = str(tmp_path / "pq_table")
    emb.withColumn("code", pq_code("embedding", cbs)).write.parquet(path)
    table = spark.read.parquet(path)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    plan = (
        ann_pq_topk(table, qv, cbs, k=5, code_col="code")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for scan in _scans(plan):
        assert "embedding" not in _scan_cols(scan), scan


def test_ivf_stored_cell_scan_prunes_partitions(spark, tmp_path):
    """The stored-cell ANN path (emb_ann_ivf_stored's shape) must turn
    the probe filter into PARTITION pruning: the index scan's
    PartitionFilters carry the cell IN-list, no data filter and no
    recomputed score expression remain, and the executed scan physically
    reads only the n_probe probed directories — the n_probe/n_clusters
    scan fraction that IS the stored index's 100-TB payoff."""
    import os

    from etl_instagram_spark.operators.similarity import (
        ann_ivf_topk,
        fit_ivf_centroids,
        ivf_cell,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = fit_ivf_centroids(emb, n_clusters=8, seed=42, order_col="vec_id")
    path = str(tmp_path / "ivf_index")
    (
        emb.select("vec_id", "embedding")
        .withColumn("cell", ivf_cell("embedding", cents))
        .write.partitionBy("cell")
        .parquet(path)
    )
    index = spark.read.parquet(path)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    df = ann_ivf_topk(index, qv, cents, k=10, n_probe=2, cell_col="cell")

    plan = df._jdf.queryExecution().executedPlan().toString()
    (scan,) = _scans(plan)
    assert "PartitionFilters: [cell" in scan, scan
    assert "DataFilters: []" in scan, scan
    # the probe must NOT re-run the k*dim cell argmin over the vectors
    assert "element_at(embedding" not in scan

    # executed: exactly the 2 probed directories' files are read
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    (metrics,) = [
        leaves.apply(i).metrics()
        for i in range(leaves.size())
        if "Scan" in leaves.apply(i).nodeName()
    ]
    n_dirs = len([d for d in os.listdir(path) if d.startswith("cell=")])
    assert n_dirs > 2  # the table genuinely has unprobed partitions
    assert metrics.apply("numPartitions").value() == 2
    assert metrics.apply("numFiles").value() < n_dirs


def test_dsir_scoring_broadcasts_the_model(spark):
    """DSIR scoring must keep the corpus on the streamed side: the
    n_buckets-row model joins as a BROADCAST (the exploded feature
    stream must never shuffle to meet the model), and the shuffle that
    keys the per-document aggregate carries map-side PARTIAL sums, not
    raw feature rows — the shape that holds at 100 TB where the model is
    O(n_buckets) and the feature stream is corpus-sized. (The spine LEFT
    join is corpus x corpus and may legitimately sort-merge.)"""
    from etl_instagram_spark.operators.dsir import DsirModel, dsir_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    model = DsirModel([0.1] * 64, 64)
    plan = (
        dsir_weights(docs, model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the model relation sits under a BroadcastExchange, and the feature
    # explode feeds the join with NO exchange in between
    lines = plan.splitlines()
    (model_scan,) = [i for i, ln in enumerate(lines) if "ExistingRDD[bucket" in ln]
    assert any(
        "BroadcastExchange" in ln for ln in lines[max(0, model_scan - 3):model_scan]
    ), plan
    (explode,) = [i for i, ln in enumerate(lines) if "explode(transform" in ln]
    join_above = [
        i for i, ln in enumerate(lines[:explode]) if "BroadcastHashJoin" in ln
    ]
    assert join_above, plan
    assert not any(
        "Exchange hashpartitioning" in ln for ln in lines[join_above[-1]:explode]
    ), "feature stream shuffled before meeting the model"
    # the per-doc aggregation combines map-side first
    assert "partial_sum" in plan

    # selection: the global top-k must plan as TakeOrdered (O(k) driver
    # bytes), never a total sort of the weighted corpus
    from etl_instagram_spark.operators.dsir import importance_sample

    sel_plan = (
        importance_sample(docs, model, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in sel_plan
    assert "SortMergeJoin" not in sel_plan.split("TakeOrderedAndProject")[0]


def test_bloom_prefilter_sits_in_the_scan_stage(spark):
    """flag_contaminated(bloom_fpp=...) must test membership BEFORE the
    hit aggregation's exchange: the Filter carrying the shiftright bit
    probes has to sit below the Aggregate (scan side), so at scale the
    shuffle only ever sees shingles that might be benchmark hits."""
    from etl_instagram_spark.operators.cleanup import flag_contaminated

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    bench = spark.createDataFrame(
        [("one planted benchmark sentence with thirteen or more words in "
          "it so shingling produces keys",)],
        "text string",
    )
    plan = (
        flag_contaminated(docs, bench, "doc_id", "text", bloom_fpp=0.01)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    # the probe may print as a Filter or fuse into the 1-row-broadcast
    # join's condition; either way the shiftright bit tests must exist
    probe = [i for i, ln in enumerate(lines) if "shiftright" in ln]
    assert probe, "bloom membership probe missing from the plan"
    # plans print root-first: every scan-side operator appears BELOW the
    # aggregate that consumes it, so the probe's line must come after
    # the (first) hit-count aggregate — i.e. before it executes
    aggs = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    assert aggs and min(aggs) < probe[0]


def test_kmeans_refine_aggregation_combines_map_side(spark):
    """One refinement iteration must partial-aggregate before its ONE
    exchange: every partition collapses to <= k rows of integer sums, so
    shuffle volume is O(partitions * k * dim) at any corpus size."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.clustering import _elem
    from etl_instagram_spark.operators.similarity import ivf_cell

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [[0.0] * 64, [1.0] * 64]
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.floor(F.expr(_elem("embedding", d + 1)) * 1_000_000)).alias(f"s{d}")
        for d in range(64)
    ]
    plan = (
        emb.select(ivf_cell("embedding", cents).alias("cell"), "embedding")
        .where(F.col("cell").isNotNull())
        .groupBy("cell")
        .agg(*aggs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"HashAggregate", plan)) >= 2  # partial + final
    assert len(re.findall(r"Exchange", plan)) == 1


def test_duplicate_span_discovery_is_equi_join_free_scan(spark):
    """remove_duplicate_spans' removal join must be a key equi-join on
    the span hash (never a cartesian), and the doc-side rebuild joins
    on the id key."""
    from etl_instagram_spark.operators.cleanup import remove_duplicate_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    plan = (
        remove_duplicate_spans(docs, "doc_id", "text", n=13)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dcm_sketch_aggregation_combines_map_side(spark):
    """The dyadic-CM register build must partial-aggregate below EVERY
    exchange: each partition collapses before it shuffles, so shuffle
    volume is bounded at any input scale — the property that makes the
    sketch a 100 TB operator. Since r14 the build has exactly THREE
    counting stages, each domain-bounded: (1) distinct (group, value),
    (2) distinct (group, lvl, value>>lvl) dyadic prefixes, (3) the
    final (group, lvl, j, col) registers — the two pre-collapses exist
    so the md5 hash work runs on the halving prefix domain instead of
    on every input row, and each one is itself map-side combined."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.sketches import dcm_sketch

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v"),
    )
    plan = (
        dcm_sketch(ev, "v", ["event_type"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # registers count via sum(1) so weighted/unweighted share one
    # aggregate shape: the partial marker is partial_sum
    assert re.search(r"partial_sum", plan)
    # three aggregation stages, each split partial+final around its
    # exchange — a 4th exchange would mean a collapse lost its
    # map-side combine
    assert len(re.findall(r"HashAggregate", plan)) >= 6
    assert len(re.findall(r"Exchange", plan)) == 3
    assert "CartesianProduct" not in plan


def test_kmv_overlap_pair_stage_broadcasts(spark):
    """kmv_overlap must join the k-sets against the O(#groups²) pair
    list via BroadcastHashJoin — the k-set frame is never shuffled by a
    data-sized join, which is what keeps the overlap stage
    data-size-INDEPENDENT (the 0.93×-at-10× smoke's design claim)."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.kmv import kmv_overlap, kmv_sketch

    df = spark.range(2000).select(
        F.concat(F.lit("g"), (F.col("id") % 4)).alias("g"),
        F.col("id").cast("string").alias("v"),
    )
    plan = (
        kmv_overlap(kmv_sketch(df, "v", ["g"], k=64), "g", k=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_walk_embedding_projection_combines_map_side(spark):
    """graph_embed.walk_embeddings' (node, d) projection sum — the
    rows = cells × dim stage — must plan partial aggregation below its
    exchange, and the only nested-loop join in the whole chain is the
    documented broadcast 1-row PPMI total."""
    from etl_instagram_spark.operators.graph_embed import (
        ppmi_scores,
        walk_embeddings,
    )

    cooc = spark.createDataFrame(
        [(i % 9, (i * 5) % 11 + 100, 1 + i % 3) for i in range(60)],
        "src long, ctx long, cnt long",
    )
    emb = walk_embeddings(ppmi_scores(cooc), dim=8, seed="pp")
    plan = emb._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row total
    assert re.search(r"partial_sum", plan), plan
    assert plan.index("partial_sum") > plan.index("Exchange")


def test_lpa_round_aggregations_combine_map_side(spark):
    """label_propagation's per-round tally (id, label) count and the
    struct-min argmax must both plan partial aggregation below their
    exchanges (the final frame sits on a post-checkpoint LogicalRDD, so
    the round shape is asserted by planning one raw round — the
    pagerank-iteration pin discipline)."""
    from pyspark.sql import functions as FF

    from etl_instagram_spark.operators.graph import label_propagation

    edges = [(i, (i + 1) % 40) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = label_propagation(df, n_rounds=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan

    sym = df.unionByName(
        df.select(FF.col("dst").alias("src"), FF.col("src").alias("dst"))
    ).distinct()
    labels = (
        sym.select(FF.col("src").alias("id"))
        .distinct()
        .select("id", FF.col("id").alias("label"))
    )
    msgs = sym.join(labels.withColumnRenamed("id", "src"), "src").select(
        FF.col("dst").alias("id"), "label", FF.lit(1).cast("long").alias("w")
    )
    step = (
        msgs.groupBy("id", "label")
        .agg(FF.sum("w").alias("cnt"))
        .groupBy("id")
        .agg(
            FF.min(
                FF.struct((-FF.col("cnt")).alias("nc"), FF.col("label"))
            )["label"].alias("label")
        )
    )
    splan = step._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in splan, splan
    assert "partial_min" in splan, splan
    # the round's label join is a key-equi join, never nested-loop
    assert "BroadcastNestedLoopJoin" not in splan, splan


def test_walk_embedding_gate_edges_push_the_date_filter(spark):
    """The r16 gate row graph_walk_embeddings bounds its subgraph with
    a quarter filter on orders — that filter must reach the orders
    parquet scan (the subgraph bound is the row's scale lever; a
    post-scan filter would read the whole fact table at 100 TB). The
    walk itself checkpoints eagerly, so the pin is on the lazy edges
    frame the chain consumes."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.graph import bipartite_order_edges
    from etl_instagram_spark.plans.queries import _t

    od = _t(spark, SF, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, SF, "lineitem")
    plan = (
        bipartite_order_edges(od, li)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "o_orderdate" in ln
    ]
    assert scan_lines, "orders scan does not carry the o_orderdate filter"
