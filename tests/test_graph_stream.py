"""Continuous face for communities over a growing graph
(streaming/incremental.py apply_edge_delta / drain /
edges_read / communities_read / compact_edge_store): the edge store's
collapse equals the batch multiplicity under any batch split, the
recompute-per-tick labels are row-identical to batch label_propagation
over the full history (the documented contract — LPA has no sound
local incremental update, so the O(edges) store is the state and the
recompute is the read), replay is a no-op by the epoch key, and
compaction leaves reads invariant."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from etl_instagram_spark.operators.graph import label_propagation
from etl_instagram_spark.operators.merge import MergeTable
from etl_instagram_spark.streaming.incremental import (
    apply_edge_delta,
    communities_read,
    compact_edge_store,
    drain,
    edges_read,
)

EDGE_DDL = "src long, dst long"
WEDGE_DDL = "src long, dst long, w long"


def _clique(nodes):
    """Symmetric edge list of a clique over ``nodes``."""
    return [
        (a, b) for a in nodes for b in nodes if a != b
    ]


def _rows_sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_edge_store_collapse_equals_batch_multiplicity(spark, tmp_path):
    """Three applied waves collapse to per-edge occurrence counts over
    the union — including an edge repeated ACROSS waves, whose
    multiplicity sums."""
    waves = [
        _clique([0, 1, 2]),
        _clique([10, 11, 12]) + [(0, 1), (1, 0)],  # repeats wave-0 edges
        _clique([2, 3]),
    ]
    store = MergeTable(
        spark, str(tmp_path / "edges"), ["epoch_id", "src", "dst"]
    )
    for i, w in enumerate(waves):
        apply_edge_delta(store, spark.createDataFrame(w, EDGE_DDL), i)
    got = {(r["src"], r["dst"]): r["w"] for r in edges_read(store).collect()}
    want: dict[tuple[int, int], int] = {}
    for w in waves:
        for e in w:
            want[e] = want.get(e, 0) + 1
    assert got == want


def test_communities_read_identical_to_batch_lpa(spark, tmp_path):
    """The maintained read — edges_read → label_propagation — is
    row-identical to batch LPA over the union of every landed wave
    (unweighted: multiplicity does not change the vote)."""
    waves = [
        _clique([0, 1, 2, 3]),
        _clique([10, 11, 12]) + [(3, 10), (10, 3)],
        _clique([20, 21]) + [(0, 1), (1, 0)],  # replayed-edge noise
    ]
    store = MergeTable(
        spark, str(tmp_path / "edges2"), ["epoch_id", "src", "dst"]
    )
    for i, w in enumerate(waves):
        apply_edge_delta(store, spark.createDataFrame(w, EDGE_DDL), i)
    got = _rows_sorted(communities_read(store, n_rounds=4))
    all_edges = spark.createDataFrame(
        sorted(set(e for w in waves for e in w)), EDGE_DDL
    )
    want = _rows_sorted(label_propagation(all_edges, n_rounds=4))
    assert got == want


def test_communities_read_weighted_sums_multiplicity(spark, tmp_path):
    """weighted=True votes with the summed multiplicities: landing the
    bridge edge (1,4)/(4,1) twice outweighs the single (0,4) bridge —
    equal to batch weighted LPA over the summed edge frame."""
    waves = [
        [(0, 1, 3), (1, 0, 3), (1, 4, 1), (4, 1, 1)],
        [(1, 4, 4), (4, 1, 4), (0, 4, 2), (4, 0, 2)],
    ]
    store = MergeTable(
        spark, str(tmp_path / "edges3"), ["epoch_id", "src", "dst"]
    )
    for i, w in enumerate(waves):
        apply_edge_delta(
            store, spark.createDataFrame(w, WEDGE_DDL), i, weight_col="w"
        )
    got = _rows_sorted(communities_read(store, n_rounds=3, weighted=True))
    want_edges: dict[tuple[int, int], int] = {}
    for w in waves:
        for s, d, wt in w:
            want_edges[(s, d)] = want_edges.get((s, d), 0) + wt
    batch = spark.createDataFrame(
        [(s, d, wt) for (s, d), wt in sorted(want_edges.items())], WEDGE_DDL
    )
    want = _rows_sorted(label_propagation(batch, n_rounds=3, weight_col="w"))
    assert got == want


def test_null_weight_rejected_loudly(spark, tmp_path):
    store = MergeTable(
        spark, str(tmp_path / "edges4"), ["epoch_id", "src", "dst"]
    )
    bad = spark.createDataFrame([(0, 1, None), (1, 0, 2)], WEDGE_DDL)
    with pytest.raises(ValueError, match="NULL"):
        apply_edge_delta(store, bad, 0, weight_col="w")


def test_replayed_epoch_is_a_no_op(spark, tmp_path):
    w0, w1 = _clique([0, 1, 2]), _clique([5, 6, 7]) + [(2, 5), (5, 2)]
    store = MergeTable(
        spark, str(tmp_path / "edges5"), ["epoch_id", "src", "dst"]
    )
    apply_edge_delta(store, spark.createDataFrame(w0, EDGE_DDL), 0)
    apply_edge_delta(store, spark.createDataFrame(w1, EDGE_DDL), 1)
    before = _rows_sorted(edges_read(store))
    apply_edge_delta(store, spark.createDataFrame(w1, EDGE_DDL), 1)
    assert _rows_sorted(edges_read(store)) == before


def test_compaction_read_invariant_and_guarded(spark, tmp_path):
    waves = [
        _clique([0, 1, 2]),
        _clique([5, 6]) + [(0, 1), (1, 0)],
        _clique([8, 9]),
    ]
    store = MergeTable(
        spark, str(tmp_path / "edges6"), ["epoch_id", "src", "dst"]
    )
    for i, w in enumerate(waves):
        apply_edge_delta(store, spark.createDataFrame(w, EDGE_DDL), i)
    before = _rows_sorted(edges_read(store))
    n_before = store.read().count()
    eliminated = compact_edge_store(store, through_epoch=1)
    assert eliminated > 0
    assert store.read().count() == n_before - eliminated
    assert _rows_sorted(edges_read(store)) == before
    assert sorted(
        r["epoch_id"]
        for r in store.read().select("epoch_id").distinct().collect()
    ) == [1, 2]
    with pytest.raises(ValueError, match="newest epoch"):
        compact_edge_store(store, through_epoch=2)
    assert compact_edge_store(store, through_epoch=1) == 0


def test_pagerank_read_identical_to_batch(spark, tmp_path):
    """pagerank_read over the store equals batch pagerank over the
    union — unweighted on the distinct edge set, weighted on the
    summed multiplicities (a twice-landed edge carries double walk
    probability)."""
    from etl_instagram_spark.operators.graph import pagerank
    from etl_instagram_spark.streaming.incremental import pagerank_read

    waves = [
        _clique([0, 1, 2, 3]),
        _clique([10, 11, 12]) + [(3, 10), (10, 3)] + [(0, 1), (1, 0)],
    ]
    store = MergeTable(
        spark, str(tmp_path / "edges_pr"), ["epoch_id", "src", "dst"]
    )
    for i, w in enumerate(waves):
        apply_edge_delta(store, spark.createDataFrame(w, EDGE_DDL), i)
    all_edges = sorted(set(e for w in waves for e in w))
    got = _rows_sorted(pagerank_read(store, n_iter=3))
    want = _rows_sorted(
        pagerank(spark.createDataFrame(all_edges, EDGE_DDL), n_iter=3)
    )
    assert got == want
    mult: dict[tuple[int, int], int] = {}
    for w in waves:
        for e in w:
            mult[e] = mult.get(e, 0) + 1
    wedges = spark.createDataFrame(
        [(s, d, m) for (s, d), m in sorted(mult.items())], WEDGE_DDL
    )
    got_w = _rows_sorted(pagerank_read(store, n_iter=3, weighted=True))
    want_w = _rows_sorted(pagerank(wedges, n_iter=3, weight_col="w"))
    assert got_w == want_w


def test_stream_tick_drains_landing_dir(spark, tmp_path):
    """The AvailableNow tick face: two drained edge waves land
    epoch-keyed and communities_read equals batch LPA over everything
    landed; a re-run of the drained tick is a no-op by checkpoint."""

    def write_json(path, rows):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s, d in rows:
                f.write(json.dumps({"src": s, "dst": d}) + "\n")

    w1 = _clique([0, 1, 2, 3])
    w2 = _clique([10, 11, 12]) + [(3, 10), (10, 3)]
    landing = tmp_path / "edges_landing"
    store = MergeTable(
        spark, str(tmp_path / "edges_s"), ["epoch_id", "src", "dst"]
    )
    ckpt = str(tmp_path / "ckpt")

    def tick(batch_df, epoch_id):
        apply_edge_delta(store, batch_df, epoch_id)

    write_json(landing / "w1.json", w1)
    drain(spark, str(landing), EDGE_DDL, ckpt, tick)
    write_json(landing / "w2.json", w2)
    drain(spark, str(landing), EDGE_DDL, ckpt, tick)
    all_edges = spark.createDataFrame(sorted(set(w1 + w2)), EDGE_DDL)
    want = _rows_sorted(label_propagation(all_edges, n_rounds=4))
    assert _rows_sorted(communities_read(store, n_rounds=4)) == want
    # drained landing dir: a third tick must not change the store
    before = _rows_sorted(edges_read(store))
    drain(spark, str(landing), EDGE_DDL, ckpt, tick)
    assert _rows_sorted(edges_read(store)) == before
