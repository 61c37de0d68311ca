"""Continuous face for walk co-occurrence (streaming/incremental.py
apply_cooc_delta / drain / cooc_read /
compact_cooc_store): stream==batch over waves of complete walks, the
read-to-embeddings chain row-identical (every float) to the batch
chain, replay as a no-op by the epoch key, and compaction with reads
invariant under it."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_instagram_spark.operators.graph_embed import (
    ppmi_scores,
    walk_cooccurrence,
    walk_embeddings,
)
from etl_instagram_spark.operators.merge import MergeTable
from etl_instagram_spark.streaming.incremental import (
    apply_cooc_delta,
    compact_cooc_store,
    cooc_read,
    drain,
)

WALK_DDL = "walk_id long, step int, node long"


def _wave(walk_ids, length=4, salt=1):
    """Deterministic synthetic complete walks: walk w visits
    (w·salt + step·7) % 50 at each step."""
    return [
        (w, s, (w * salt + s * 7) % 50)
        for w in walk_ids
        for s in range(length)
    ]


def _rows_sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_cooc_store_stream_equals_batch(spark, tmp_path):
    """Three applied waves of complete walks collapse to the counts of
    one batch walk_cooccurrence over every wave's rows."""
    waves = [
        _wave(range(0, 40)),
        _wave(range(100, 130), salt=3),
        _wave(range(200, 260), salt=5),
    ]
    store = MergeTable(
        spark, str(tmp_path / "cooc"), ["epoch_id", "src", "ctx"]
    )
    for i, w in enumerate(waves):
        apply_cooc_delta(
            store, spark.createDataFrame(w, WALK_DDL), i, window=2
        )
    all_walks = spark.createDataFrame(
        [r for w in waves for r in w], WALK_DDL
    )
    assert _rows_sorted(cooc_read(store)) == _rows_sorted(
        walk_cooccurrence(all_walks, window=2)
    )


def test_read_to_embeddings_identical_to_batch_chain(spark, tmp_path):
    """The full maintained chain — cooc_read → ppmi → projection — is
    row-identical INCLUDING floats to the batch chain over the full
    walk corpus (PPMI marginals shift with every wave, so only the
    COUNTS are incremental state; the read face re-derives the rest,
    the bm25_read_index shape)."""
    waves = [_wave(range(0, 50)), _wave(range(50, 90), salt=9)]
    store = MergeTable(
        spark, str(tmp_path / "cooc2"), ["epoch_id", "src", "ctx"]
    )
    for i, w in enumerate(waves):
        apply_cooc_delta(
            store, spark.createDataFrame(w, WALK_DDL), i, window=2
        )
    got = walk_embeddings(ppmi_scores(cooc_read(store)), dim=8, seed="st")
    all_walks = spark.createDataFrame(
        [r for w in waves for r in w], WALK_DDL
    )
    want = walk_embeddings(
        ppmi_scores(walk_cooccurrence(all_walks, window=2)),
        dim=8,
        seed="st",
    )
    assert _rows_sorted(got) == _rows_sorted(want)


def test_replayed_epoch_is_a_no_op(spark, tmp_path):
    """Re-applying an epoch recomputes identical counts and upserts
    them over themselves — reads unchanged (rollup-delta
    exactly-once)."""
    w0, w1 = _wave(range(0, 30)), _wave(range(40, 70), salt=3)
    store = MergeTable(
        spark, str(tmp_path / "cooc3"), ["epoch_id", "src", "ctx"]
    )
    apply_cooc_delta(store, spark.createDataFrame(w0, WALK_DDL), 0)
    apply_cooc_delta(store, spark.createDataFrame(w1, WALK_DDL), 1)
    before = _rows_sorted(cooc_read(store))
    apply_cooc_delta(store, spark.createDataFrame(w1, WALK_DDL), 1)
    assert _rows_sorted(cooc_read(store)) == before


def test_compaction_read_invariant_and_guarded(spark, tmp_path):
    import pytest

    waves = [
        _wave(range(0, 30)),
        _wave(range(30, 60), salt=3),
        _wave(range(60, 90), salt=5),
    ]
    store = MergeTable(
        spark, str(tmp_path / "cooc4"), ["epoch_id", "src", "ctx"]
    )
    for i, w in enumerate(waves):
        apply_cooc_delta(store, spark.createDataFrame(w, WALK_DDL), i)
    before = _rows_sorted(cooc_read(store))
    n_before = store.read().count()
    eliminated = compact_cooc_store(store, through_epoch=1)
    assert eliminated > 0
    assert store.read().count() == n_before - eliminated
    assert _rows_sorted(cooc_read(store)) == before
    # epochs <= 1 folded into one set keyed at 1
    assert sorted(
        r["epoch_id"]
        for r in store.read().select("epoch_id").distinct().collect()
    ) == [1, 2]
    # the newest epoch may still re-fire: compacting through it refuses
    with pytest.raises(ValueError, match="newest epoch"):
        compact_cooc_store(store, through_epoch=2)
    # re-runnable at a higher (still valid) watermark: no-op here since
    # epoch 1 already holds the fold
    assert compact_cooc_store(store, through_epoch=1) == 0


def test_stream_tick_drains_landing_dir(spark, tmp_path):
    """The AvailableNow tick face: two drained waves of complete walks
    land epoch-keyed, and the read equals one batch pass over
    everything landed."""

    def write_json(path, rows):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for walk_id, step, node in rows:
                f.write(
                    json.dumps(
                        {"walk_id": walk_id, "step": step, "node": node}
                    )
                    + "\n"
                )

    w1, w2 = _wave(range(0, 40)), _wave(range(100, 150), salt=3)
    landing = tmp_path / "walks"
    store = MergeTable(
        spark, str(tmp_path / "cooc_s"), ["epoch_id", "src", "ctx"]
    )
    ckpt = str(tmp_path / "ckpt_cooc")

    def tick(batch_df, epoch_id):
        apply_cooc_delta(store, batch_df, epoch_id, window=2)

    write_json(landing / "w1.json", w1)
    drain(spark, str(landing), WALK_DDL, ckpt, tick)
    write_json(landing / "w2.json", w2)
    drain(spark, str(landing), WALK_DDL, ckpt, tick)

    all_walks = spark.createDataFrame(w1 + w2, WALK_DDL)
    assert _rows_sorted(cooc_read(store)) == _rows_sorted(
        walk_cooccurrence(all_walks, window=2)
    )
    assert store.read().select("epoch_id").distinct().count() == 2
