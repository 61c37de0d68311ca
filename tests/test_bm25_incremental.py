"""Continuous BM25 inverted-index maintenance: the epoch-keyed postings
+ corpus-counts store pair must be row-identical to one batch
build_bm25_index over everything landed (so bm25_topk_indexed over the
maintained index stays row-identical to the scan path), replay must be
a no-op, and compaction must preserve reads while verifying the
append-once contract loudly."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.merge import MergeTable
from etl_instagram_spark.operators.retrieval import (
    bm25_topk,
    bm25_topk_indexed,
    build_bm25_index,
)
from etl_instagram_spark.streaming.incremental import (
    apply_bm25_delta,
    bm25_read_index,
    compact_bm25_store,
    drain,
)


def _stores(spark, tmp_path, tag=""):
    postings = MergeTable(
        spark, str(tmp_path / f"bm25_p{tag}"), ["epoch_id", "term", "doc_id"]
    )
    corpus = MergeTable(spark, str(tmp_path / f"bm25_c{tag}"), ["epoch_id"])
    return postings, corpus


def _sorted_pdf(df, cols):
    return df.toPandas().sort_values(cols).reset_index(drop=True)


def test_bm25_store_stream_equals_batch_and_replay_noop(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wave1 = docs.filter(F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(2)) == 0)
    wave2 = docs.subtract(wave1)
    ps, cs = _stores(spark, tmp_path)
    apply_bm25_delta(ps, cs, wave1, 0, "doc_id", "text")
    apply_bm25_delta(ps, cs, wave2, 1, "doc_id", "text")

    got_p, got_c = bm25_read_index(ps, cs)
    want_p, want_c = build_bm25_index(docs, "doc_id", "text")
    key = ["term", "doc_id"]
    gp, wp = _sorted_pdf(got_p, key), _sorted_pdf(want_p, key)
    assert gp[wp.columns].equals(wp)
    grow, wrow = got_c.first(), want_c.first()
    assert grow["n_docs"] == wrow["n_docs"]
    # EXACT equality — the 2^53 integer-addition argument, not approx
    assert grow["avgdl"] == wrow["avgdl"]

    # replay epoch 1: identical rows upsert over themselves — no-op
    before_p = _sorted_pdf(ps.read(), ["epoch_id", "term", "doc_id"])
    before_c = _sorted_pdf(cs.read(), ["epoch_id"])
    apply_bm25_delta(ps, cs, wave2, 1, "doc_id", "text")
    assert _sorted_pdf(ps.read(), ["epoch_id", "term", "doc_id"]).equals(before_p)
    assert _sorted_pdf(cs.read(), ["epoch_id"]).equals(before_c)


def test_stream_bm25_index_tick_and_indexed_topk_matches_scan(spark, tmp_path):
    """The AvailableNow tick face: two drained waves, then
    bm25_topk_indexed over the MAINTAINED index must be row-identical
    to the scan path over everything landed — same ids, 6-dp scores,
    and tf columns, across query shapes (the build_bm25_index equality
    test's bar, now against the store)."""
    docs = [
        (1, "spark runs spark jobs on spark clusters"),
        (2, "spark joins tables"),
        (3, "rare gem hidden here"),
        (4, "tables joined by the planner with no match"),
        (6, ""),
    ]
    late = [(5, "spark spark"), (7, "gem of the spark planner")]

    landing = tmp_path / "rows"
    landing.mkdir()
    ps, cs = _stores(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    DDL = "doc_id long, text string"

    def write_wave(name, rows):
        with open(landing / name, "w", encoding="utf-8") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    def tick(batch_df, epoch_id):
        apply_bm25_delta(ps, cs, batch_df, epoch_id, "doc_id", "text")

    write_wave("w1.json", docs)
    drain(spark, str(landing), DDL, ckpt, tick)
    write_wave("w2.json", late)
    drain(spark, str(landing), DDL, ckpt, tick)
    assert cs.read().count() == 2  # one corpus row per drained wave

    all_docs = spark.createDataFrame(docs + late, DDL)
    got_p, got_c = bm25_read_index(ps, cs)
    for terms, k in [(["spark", "gem"], 10), (["planner"], 3), (["zzz", "spark"], 5)]:
        scan = [
            tuple(r) for r in bm25_topk(all_docs, "doc_id", "text", terms, k=k).collect()
        ]
        idx = [
            tuple(r)
            for r in bm25_topk_indexed(got_p, got_c, "doc_id", terms, k=k).collect()
        ]
        assert idx == scan, (terms, k)


def test_compact_bm25_store_preserves_reads_and_guards(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    waves = [
        docs.filter(F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(3)) == i)
        for i in range(3)
    ]
    ps, cs = _stores(spark, tmp_path)
    for i, w in enumerate(waves):
        apply_bm25_delta(ps, cs, w, i, "doc_id", "text")

    before_p, before_c = bm25_read_index(ps, cs)
    before_pdf = _sorted_pdf(before_p, ["term", "doc_id"])
    before_crow = before_c.first()
    n_corpus_rows = cs.read().count()

    # newest epoch may not be compacted
    with pytest.raises(ValueError, match="newest epoch"):
        compact_bm25_store(ps, cs, 2, "doc_id")

    eliminated = compact_bm25_store(ps, cs, 1, "doc_id")
    assert eliminated == 1  # two corpus rows folded into one
    assert cs.read().count() == n_corpus_rows - 1
    assert ps.read().select("epoch_id").distinct().count() == 2  # {1, 2}

    after_p, after_c = bm25_read_index(ps, cs)
    assert _sorted_pdf(after_p, ["term", "doc_id"]).equals(before_pdf)
    arow = after_c.first()
    assert (arow["n_docs"], arow["avgdl"]) == (
        before_crow["n_docs"],
        before_crow["avgdl"],
    )

    # compacting an already-compacted watermark again: no-op (rows at
    # epoch 0 are gone; epoch 1 holds the fold)
    assert compact_bm25_store(ps, cs, 1, "doc_id") == 0


def test_compact_refuses_append_once_violation(spark, tmp_path):
    """The SAME document landed in two epochs → duplicate (term, doc)
    postings across epochs; a silent re-key would corrupt tf, so
    compaction must refuse loudly."""
    rows = spark.createDataFrame([(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string")
    ps, cs = _stores(spark, tmp_path)
    apply_bm25_delta(ps, cs, rows, 0, "doc_id", "text")
    apply_bm25_delta(ps, cs, rows, 1, "doc_id", "text")  # re-land: contract violation
    apply_bm25_delta(
        ps, cs, spark.createDataFrame([(3, "delta")], "doc_id long, text string"),
        2, "doc_id", "text",
    )
    with pytest.raises(ValueError, match="append-once"):
        compact_bm25_store(ps, cs, 1, "doc_id")


def test_bm25_read_index_empty_and_overflow_guard(spark, tmp_path):
    ps, cs = _stores(spark, tmp_path)
    empty = spark.createDataFrame([], "doc_id long, text string")
    apply_bm25_delta(ps, cs, empty, 0, "doc_id", "text")
    got_p, got_c = bm25_read_index(ps, cs)
    assert got_p.count() == 0
    row = got_c.first()
    assert (row["n_docs"], row["avgdl"]) == (0, 0.0)

    # 2^53 exactness bound trips loudly, not silently
    cs.upsert(
        spark.createDataFrame(
            [(10, 1 << 53, 1)], "n_docs long, sum_dl long, epoch_id int"
        )
    )
    with pytest.raises(ValueError, match="2\\^53"):
        bm25_read_index(ps, cs)


def test_maintained_index_query_pushes_term_filter(spark, tmp_path):
    """The scale claim carries over to the MAINTAINED index: a query
    over bm25_read_index's postings (MergeTable-backed parquet) still
    reaches the scan with the term filter pushed — query cost stays
    O(postings of the query terms) for the continuously-maintained
    store exactly as for the batch-written one."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ps, cs = _stores(spark, tmp_path)
    apply_bm25_delta(ps, cs, docs, 0, "doc_id", "text")
    got_p, got_c = bm25_read_index(ps, cs)
    out = bm25_topk_indexed(got_p, got_c, "doc_id", ["spark", "join"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "In(term" in plan or "term IN" in plan, plan[:2000]
    assert out.count() > 0
