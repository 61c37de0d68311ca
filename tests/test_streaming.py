"""Streaming incremental-mode tests: exactly-once upsert across
micro-batches and restarts, sentinel circuit breaker, watermarked
windowed aggregation (SURVEY §2.9)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.merge import MergeTable
from etl_instagram_spark.streaming.incremental import (
    CircuitBreaker,
    stream_pages_with_sentinel_gate,
    stream_upsert,
    windowed_event_counts,
)

POST_DDL = "id STRING, like_count LONG, source STRING, updated_at TIMESTAMP"
PAGE_DDL = "url STRING, html STRING, updated_at TIMESTAMP"


def write_json(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_upsert_exactly_once_across_batches(spark, tmp_path):
    landing = tmp_path / "landing"
    table = MergeTable(spark, str(tmp_path / "posts"), "id")
    ckpt = str(tmp_path / "ckpt")

    write_json(landing / "batch1.json", [
        {"id": "1", "like_count": 10, "source": "food", "updated_at": "2021-01-01T00:00:00Z"},
        {"id": "2", "like_count": 20, "source": "food", "updated_at": "2021-01-01T00:00:00Z"},
    ])
    assert stream_upsert(spark, str(landing), POST_DDL, table, ckpt)
    assert {r["id"]: r["like_count"] for r in table.read().collect()} == {"1": 10, "2": 20}

    # second tick: overlapping key 2 (newer) + new key 3 — restart: new
    # query, same checkpoint; batch1.json must NOT be reprocessed
    write_json(landing / "batch2.json", [
        {"id": "2", "like_count": 99, "source": "food", "updated_at": "2021-01-02T00:00:00Z"},
        {"id": "3", "like_count": 30, "source": "food", "updated_at": "2021-01-02T00:00:00Z"},
    ])
    assert stream_upsert(spark, str(landing), POST_DDL, table, ckpt)
    got = {r["id"]: r["like_count"] for r in table.read().collect()}
    assert got == {"1": 10, "2": 99, "3": 30}

    # third tick with nothing new: table unchanged (no duplicate rows)
    assert stream_upsert(spark, str(landing), POST_DDL, table, ckpt)
    assert table.read().count() == 3


def test_sentinel_gate_trips_breaker_and_skips_next_run(spark, tmp_path):
    landing = tmp_path / "pages"
    table = MergeTable(spark, str(tmp_path / "clean"), "url")
    dead = MergeTable(spark, str(tmp_path / "dead"), "url")
    breaker = CircuitBreaker(str(tmp_path / "breaker.flag"))
    ckpt = str(tmp_path / "ckpt")

    write_json(landing / "b1.json", [
        {"url": "u1", "html": "<html>fine</html>", "updated_at": "2021-01-01T00:00:00Z"},
        {"url": "u2", "html": "<html>Login • Instagram</html>", "updated_at": "2021-01-01T00:00:00Z"},
    ])
    assert stream_pages_with_sentinel_gate(
        spark, str(landing), PAGE_DDL, table, dead, ckpt, breaker
    )
    assert [r["url"] for r in table.read().collect()] == ["u1"]
    assert dead.read().collect()[0]["sentinel"] == "Login • Instagram"
    assert breaker.tripped() and breaker.reason() == "Login • Instagram"

    # E1: next run is skipped entirely
    write_json(landing / "b2.json", [
        {"url": "u3", "html": "<html>more</html>", "updated_at": "2021-01-02T00:00:00Z"},
    ])
    assert not stream_pages_with_sentinel_gate(
        spark, str(landing), PAGE_DDL, table, dead, ckpt, breaker
    )
    assert table.read().count() == 1

    # reset re-arms and drains the backlog
    breaker.reset()
    assert stream_pages_with_sentinel_gate(
        spark, str(landing), PAGE_DDL, table, dead, ckpt, breaker
    )
    assert sorted(r["url"] for r in table.read().collect()) == ["u1", "u3"]


def test_windowed_event_counts_streaming(spark, tmp_path):
    landing = tmp_path / "events"
    write_json(landing / "e1.json", [
        {"event_id": 1, "ts": "2021-01-01T00:10:00Z", "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2021-01-01T00:40:00Z", "event_type": "click", "value": 2.0},
        {"event_id": 3, "ts": "2021-01-01T01:10:00Z", "event_type": "view", "value": 5.0},
    ])
    stream = spark.readStream.schema(
        "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).json(str(landing))
    agg = windowed_event_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert rows[("2021-01-01T00:00:00", "click")] == (2, 3.0)
    assert rows[("2021-01-01T01:00:00", "view")] == (1, 5.0)


def test_stream_dedup_within_watermark(spark, tmp_path):
    from etl_instagram_spark.streaming.incremental import stream_dedup_within_watermark

    landing = tmp_path / "dups"
    write_json(landing / "b1.json", [
        {"event_id": 1, "ts": "2021-01-01T00:00:00Z", "value": 1.0},
        {"event_id": 1, "ts": "2021-01-01T00:05:00Z", "value": 1.0},  # dup within watermark
        {"event_id": 2, "ts": "2021-01-01T00:10:00Z", "value": 2.0},
    ])
    stream = spark.readStream.schema("event_id LONG, ts TIMESTAMP, value DOUBLE").json(str(landing))
    deduped = stream_dedup_within_watermark(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT event_id FROM dedup_stream").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]  # dup dropped


def test_dead_letter_idempotent_under_replay(spark, tmp_path):
    """An epoch that replays (checkpoint wiped, same files re-ingested)
    must not duplicate dead-letter rows: the write is an upsert on the
    dead table's key, not an append."""
    import os

    landing = tmp_path / "pages"
    table = MergeTable(spark, str(tmp_path / "clean"), "url")
    dead = MergeTable(spark, str(tmp_path / "dead"), "url")
    breaker = CircuitBreaker(str(tmp_path / "breaker.flag"))

    write_json(landing / "b1.json", [
        {"url": "u1", "html": "<html>fine</html>", "updated_at": "2021-01-01T00:00:00Z"},
        {"url": "u2", "html": "<html>Login • Instagram</html>", "updated_at": "2021-01-01T00:00:00Z"},
    ])
    assert stream_pages_with_sentinel_gate(
        spark, str(landing), PAGE_DDL, table, dead, str(tmp_path / "ckpt1"), breaker
    )
    assert dead.read().count() == 1

    # replay: fresh checkpoint re-consumes b1.json; lift the gate first
    os.remove(breaker.path)
    assert stream_pages_with_sentinel_gate(
        spark, str(landing), PAGE_DDL, table, dead, str(tmp_path / "ckpt2"), breaker
    )
    rows = dead.read().collect()
    assert len(rows) == 1  # same key upserted, not appended
    assert rows[0]["sentinel"] == "Login • Instagram"
    assert "epoch_id" in dead.read().columns  # provenance carried


def test_on_alert_hook_in_stream_gate(spark, tmp_path):
    landing = tmp_path / "pages"
    table = MergeTable(spark, str(tmp_path / "clean"), "url")
    dead = MergeTable(spark, str(tmp_path / "dead"), "url")
    breaker = CircuitBreaker(str(tmp_path / "breaker.flag"))
    alerts: list[str] = []

    write_json(landing / "b1.json", [
        {"url": "u2", "html": "<html>Login • Instagram</html>", "updated_at": "2021-01-01T00:00:00Z"},
    ])
    assert stream_pages_with_sentinel_gate(
        spark, str(landing), PAGE_DDL, table, dead, str(tmp_path / "c1"), breaker,
        on_alert=alerts.append,
    )
    assert alerts == ["Login • Instagram"]


def test_stream_batch_parity_windowed_counts(spark, tmp_path):
    """The same windowed_event_counts transform over the events table as
    a replayed file STREAM and as a BATCH read must produce identical
    rollups — the streaming face of the hourly rollup is not a second
    implementation, it is the same declarative plan under a different
    runner (complete mode so withheld-by-watermark windows also emit).
    Events are re-landed as micros-timestamp parquet first: the NANOS ts
    in the source file is batch-readable via load_table's legacy-conf
    dance but the streaming parquet source rejects it outright."""
    import uuid

    from etl_instagram_spark.sources.tables import load_table

    landing = str(tmp_path / "events_landing")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(landing)
    batch_events = spark.read.parquet(landing)
    expected = sorted(
        (
            (str(r["window_start"]), r["event_type"], r["n_events"], r["sum_value"])
            for r in windowed_event_counts(batch_events).collect()
        )
    )

    name = f"wec_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(batch_events.schema).parquet(landing)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (
            (str(r["window_start"]), r["event_type"], r["n_events"], r["sum_value"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )
    )
    assert got == expected and len(got) > 0


def test_continuous_rollup_parity_and_replay_idempotence(spark, tmp_path):
    """The incrementally maintained continuous aggregate must equal the
    direct batch hypertable_rollup over the same events at EVERY grain,
    and re-applying an epoch's delta (foreachBatch replay after a crash)
    must not change the table — the epoch-keyed upsert is what makes
    additive aggregation exactly-once."""
    from etl_instagram_spark.operators.temporal import hypertable_rollup
    from etl_instagram_spark.streaming.incremental import (
        apply_rollup_delta,
        continuous_rollup_read,
        drain,
    )

    EVENT_DDL = "ts TIMESTAMP, event_type STRING, value DOUBLE"
    landing = tmp_path / "events"
    partials = MergeTable(
        spark, str(tmp_path / "partials"), ["epoch_id", "bucket", "event_type"]
    )
    ckpt = str(tmp_path / "ckpt_cr")

    wave1 = [
        {"ts": f"2024-05-01T{h:02d}:{m:02d}:00Z", "event_type": t, "value": float(h * 10 + m)}
        for h in range(4) for m in (0, 30) for t in ("click", "view")
    ]
    wave2 = [
        {"ts": f"2024-05-{d:02d}T06:15:00Z", "event_type": "click", "value": 5.0}
        for d in (1, 2, 8)  # same day, next day, next week
    ]
    def tick(batch_df, epoch_id):
        apply_rollup_delta(partials, batch_df, epoch_id)

    write_json(landing / "w1.json", wave1)
    drain(spark, str(landing), EVENT_DDL, ckpt, tick)
    write_json(landing / "w2.json", wave2)
    drain(spark, str(landing), EVENT_DDL, ckpt, tick)

    all_events = spark.createDataFrame(
        [(r["ts"].replace("T", " ").replace("Z", ""), r["event_type"], r["value"]) for r in wave1 + wave2],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    expect = {
        (r["grain"], r["bucket"], r["event_type"]): (r["n_rows"], r["sum_value"])
        for r in hypertable_rollup(
            all_events, "ts", ["hour", "day", "week"], dims=["event_type"],
            measures={"value": ["sum"]},
        ).collect()
    }
    got = {
        (r["grain"], r["bucket"], r["event_type"]): (r["n_rows"], r["sum_value"])
        for r in continuous_rollup_read(partials, ["hour", "day", "week"]).collect()
    }
    assert set(got) == set(expect)
    for k, (n, s) in expect.items():
        assert got[k][0] == n, k
        assert got[k][1] == pytest.approx(s), k

    # replay epoch 0's delta verbatim — table must not change (rows
    # compared name-keyed: the merge path may reorder columns)
    def _rows(df):
        return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())

    before = _rows(partials.read())
    replay = spark.createDataFrame(
        [(r["ts"].replace("T", " ").replace("Z", ""), r["event_type"], r["value"]) for r in wave1],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    apply_rollup_delta(partials, replay, epoch_id=0)
    assert _rows(partials.read()) == before


def test_stream_near_dedup_across_waves_and_replay(spark, tmp_path):
    """The streaming corpus-dedup loop: wave 2's cross-wave duplicate is
    dropped against wave 1's SIGNATURES (no historical text read), the
    within-wave duplicate is dropped too, and re-draining with a fresh
    checkpoint (the crash-replay worst case: every file re-fires) leaves
    the clean table unchanged."""
    from etl_instagram_spark.streaming.incremental import stream_near_dedup

    DDL = "doc_id LONG, text STRING"
    landing = tmp_path / "docs"
    store = MergeTable(spark, str(tmp_path / "sigs"), "doc_id")
    clean = MergeTable(spark, str(tmp_path / "clean"), "doc_id")

    LONG_A = "the quick brown fox jumps over the lazy dog near the river bank"
    LONG_B = "completely different content about spark query engines and shuffles"
    FRESH = "fresh unseen story about mountains and weather patterns today"

    write_json(landing / "w1.json", [{"doc_id": 1, "text": LONG_A}, {"doc_id": 2, "text": LONG_B}])
    assert stream_near_dedup(spark, str(landing), DDL, store, clean, str(tmp_path / "ck1"))
    assert sorted(r["doc_id"] for r in clean.read().collect()) == [1, 2]

    write_json(
        landing / "w2.json",
        [{"doc_id": 10, "text": LONG_A},   # cross-wave dup of doc 1
         {"doc_id": 11, "text": FRESH},
         {"doc_id": 12, "text": FRESH}],   # within-wave dup
    )
    assert stream_near_dedup(spark, str(landing), DDL, store, clean, str(tmp_path / "ck1"))
    assert sorted(r["doc_id"] for r in clean.read().collect()) == [1, 2, 11]
    assert sorted(r["doc_id"] for r in store.read().collect()) == [1, 2, 11]

    # fresh checkpoint → EVERY landed file replays; same clean table
    assert stream_near_dedup(spark, str(landing), DDL, store, clean, str(tmp_path / "ck2"))
    assert sorted(r["doc_id"] for r in clean.read().collect()) == [1, 2, 11]
    assert sorted(r["doc_id"] for r in store.read().collect()) == [1, 2, 11]


def test_continuous_rollup_compaction(spark, tmp_path):
    """compact_rollup_partials folds old epochs to one row per (bucket,
    dims) without changing any read, refuses to touch the latest epoch
    (the only one foreachBatch can re-fire), and stays exactly-once
    under a replay of that latest epoch after compaction."""
    from etl_instagram_spark.streaming.incremental import (
        apply_rollup_delta,
        compact_rollup_partials,
        continuous_rollup_read,
    )

    partials = MergeTable(
        spark, str(tmp_path / "pc"), ["epoch_id", "bucket", "event_type"]
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "ts_s string, event_type string, value double"
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")

    # five epochs, overlapping hour buckets so compaction really merges
    waves = [
        [(f"2024-05-01 {10 + e % 2:02d}:15:00", t, float(e * 10 + i))
         for i, t in enumerate(("click", "view"))]
        for e in range(5)
    ]
    for e, rows in enumerate(waves):
        apply_rollup_delta(partials, batch(rows), epoch_id=e)

    def read_map():
        return {
            (r["grain"], r["bucket"], r["event_type"]): (r["n_rows"], r["sum_value"])
            for r in continuous_rollup_read(partials, ["hour", "day"]).collect()
        }

    before = read_map()
    n_rows_before = partials.read().count()

    # the latest epoch is fenced off
    with pytest.raises(ValueError, match="newest epoch"):
        compact_rollup_partials(partials, through_epoch=4)

    eliminated = compact_rollup_partials(partials, through_epoch=3)
    assert eliminated > 0
    assert partials.read().count() == n_rows_before - eliminated
    # epochs <= 3 collapsed to one row per (bucket, dims); epoch 4 intact
    assert {r["epoch_id"] for r in partials.read().select("epoch_id").distinct().collect()} == {3, 4}
    assert read_map() == before

    # replay of the LATEST epoch after compaction upserts over itself
    apply_rollup_delta(partials, batch(waves[4]), epoch_id=4)
    assert read_map() == before

    # a later compaction folds the compacted row in like any partial
    apply_rollup_delta(partials, batch([("2024-05-02 09:00:00", "click", 7.0)]), epoch_id=5)
    after_new = read_map()
    assert compact_rollup_partials(partials, through_epoch=4) > 0
    assert read_map() == after_new
    # nothing left to do below an already-compacted watermark
    assert compact_rollup_partials(partials, through_epoch=2) == 0


def test_continuous_rollup_read_validates_grain(spark, tmp_path):
    """Reading finer than the maintenance grain would mislabel coarse
    buckets as fine ones — it must refuse instead."""
    from etl_instagram_spark.streaming.incremental import (
        apply_rollup_delta,
        continuous_rollup_read,
    )

    partials = MergeTable(
        spark, str(tmp_path / "p2"), ["epoch_id", "bucket", "event_type"]
    )
    batch = spark.createDataFrame(
        [("2024-05-01 10:30:00", "click", 1.0)], "ts_s string, event_type string, value double"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    apply_rollup_delta(partials, batch, epoch_id=0, grain="day")
    with pytest.raises(ValueError, match="maintenance grain"):
        continuous_rollup_read(partials, ["hour", "day"])
    rows = continuous_rollup_read(partials, ["day", "week"]).collect()
    assert {r["grain"] for r in rows} == {"day", "week"}


def test_stream_upsert_changelog_records_cdc_and_replays_safely(spark, tmp_path):
    """The change-data feed: per epoch, exactly the inserted/updated
    keys with new images; identical re-deliveries are NOT changes; a
    replayed batch (crash between changelog and upsert, and after both)
    leaves the changelog converged."""
    from etl_instagram_spark.streaming.incremental import (
        apply_changelog_batch,
        stream_upsert_with_changelog,
    )

    landing = tmp_path / "landing"
    table = MergeTable(spark, str(tmp_path / "posts"), "id")
    changes = MergeTable(spark, str(tmp_path / "changes"), ["epoch", "id"])
    ckpt = str(tmp_path / "ckpt")

    write_json(landing / "b1.json", [
        {"id": "1", "like_count": 10, "source": "food", "updated_at": "2021-01-01T00:00:00Z"},
        {"id": "2", "like_count": 20, "source": "food", "updated_at": "2021-01-01T00:00:00Z"},
    ])
    assert stream_upsert_with_changelog(
        spark, str(landing), POST_DDL, table, changes, ckpt
    )
    write_json(landing / "b2.json", [
        # id 2: real update; id 1: identical re-delivery (NOT a change)
        {"id": "2", "like_count": 99, "source": "food", "updated_at": "2021-01-02T00:00:00Z"},
        {"id": "1", "like_count": 10, "source": "food", "updated_at": "2021-01-01T00:00:00Z"},
        {"id": "3", "like_count": 30, "source": "food", "updated_at": "2021-01-02T00:00:00Z"},
    ])
    assert stream_upsert_with_changelog(
        spark, str(landing), POST_DDL, table, changes, ckpt
    )
    feed = {
        (r["epoch"], r["id"]): (r["_change"], r["like_count"])
        for r in changes.read().collect()
    }
    assert feed == {
        (0, "1"): ("insert", 10),
        (0, "2"): ("insert", 20),
        (1, "2"): ("update", 99),
        (1, "3"): ("insert", 30),
    }
    # crash-replay after full success: re-applying epoch 1's batch finds
    # an unchanged table → empty delta → the changelog stands
    replay = spark.createDataFrame(
        [("2", 99, "food", "2021-01-02T00:00:00Z"),
         ("1", 10, "food", "2021-01-01T00:00:00Z"),
         ("3", 30, "food", "2021-01-02T00:00:00Z")],
        "id string, like_count long, source string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    apply_changelog_batch(table, changes, replay, 1)
    assert {
        (r["epoch"], r["id"]): (r["_change"], r["like_count"])
        for r in changes.read().collect()
    } == feed
    assert table.read().count() == 3


def test_stream_semantic_dedup_across_waves_and_replay(spark, tmp_path):
    """The embedding-modality dedup loop: wave 2's cross-wave semantic
    duplicate drops against wave 1's (cell, unit) STORE — no historical
    embeddings re-read — and re-draining with a fresh checkpoint (every
    file re-fires) leaves the clean table unchanged."""
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.operators.similarity import lloyd_kmeans
    from etl_instagram_spark.streaming.incremental import stream_semantic_dedup

    base = [1.0, 0.2, -0.4, 0.7]
    other = [-0.8, 0.5, 0.1, -0.2]
    third = [0.1, -0.9, 0.6, 0.3]
    cents = lloyd_kmeans([base, other, third], 2, seed=3)
    landing = tmp_path / "vecs"
    store = MergeTable(spark, str(tmp_path / "store"), "vec_id")
    clean = MergeTable(spark, str(tmp_path / "clean"), "vec_id")
    DDL = "vec_id LONG, embedding ARRAY<DOUBLE>, updated_at TIMESTAMP"

    write_json(landing / "w1.json", [
        {"vec_id": 1, "embedding": base, "updated_at": "2021-01-01T00:00:00Z"},
        {"vec_id": 2, "embedding": other, "updated_at": "2021-01-01T00:00:00Z"},
    ])
    assert stream_semantic_dedup(
        spark, str(landing), DDL, store, clean, str(tmp_path / "ck1"), cents,
        threshold=0.98,
    )
    assert sorted(r["vec_id"] for r in clean.read().collect()) == [1, 2]

    write_json(landing / "w2.json", [
        # same direction as vec 1 (scaled) → cross-wave semantic dup
        {"vec_id": 3, "embedding": [x * 2.0 for x in base], "updated_at": "2021-01-02T00:00:00Z"},
        {"vec_id": 4, "embedding": third, "updated_at": "2021-01-02T00:00:00Z"},
    ])
    assert stream_semantic_dedup(
        spark, str(landing), DDL, store, clean, str(tmp_path / "ck1"), cents,
        threshold=0.98,
    )
    assert sorted(r["vec_id"] for r in clean.read().collect()) == [1, 2, 4]

    # crash-replay worst case: fresh checkpoint, every file re-fires
    assert stream_semantic_dedup(
        spark, str(landing), DDL, store, clean, str(tmp_path / "ck2"), cents,
        threshold=0.98,
    )
    assert sorted(r["vec_id"] for r in clean.read().collect()) == [1, 2, 4]


def test_stream_ann_index_matches_one_shot_and_replays(spark, tmp_path):
    """Incremental IVFADC maintenance: two ticks of vector arrivals must
    leave the index table byte-equal to stamping everything in one shot
    (frozen quantizers ⇒ stamping is a pure projection), and re-draining
    every file with a fresh checkpoint must change nothing."""
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.operators.similarity import (
        ann_index_rows,
        lloyd_kmeans,
        pq_codebooks_from_sample,
    )
    from etl_instagram_spark.streaming.incremental import stream_ann_index

    vecs = {
        1: [1.0, 0.2, -0.4, 0.7],
        2: [-0.8, 0.5, 0.1, -0.2],
        3: [0.1, -0.9, 0.6, 0.3],
        4: [0.9, 0.1, -0.3, 0.8],
    }
    sample = [vecs[i] for i in sorted(vecs)]
    cents = lloyd_kmeans(sample, 2, seed=3)
    cbs = pq_codebooks_from_sample(sample, m=2, k=2, seed=3)
    landing = tmp_path / "vecs"
    index = MergeTable(spark, str(tmp_path / "index"), "vec_id")
    DDL = "vec_id LONG, embedding ARRAY<DOUBLE>, updated_at TIMESTAMP"

    write_json(landing / "w1.json", [
        {"vec_id": 1, "embedding": vecs[1], "updated_at": "2021-01-01T00:00:00Z"},
        {"vec_id": 2, "embedding": vecs[2], "updated_at": "2021-01-01T00:00:00Z"},
    ])
    assert stream_ann_index(
        spark, str(landing), DDL, index, str(tmp_path / "ck1"), cents, cbs
    )
    write_json(landing / "w2.json", [
        {"vec_id": 3, "embedding": vecs[3], "updated_at": "2021-01-02T00:00:00Z"},
        {"vec_id": 4, "embedding": vecs[4], "updated_at": "2021-01-02T00:00:00Z"},
    ])
    assert stream_ann_index(
        spark, str(landing), DDL, index, str(tmp_path / "ck1"), cents, cbs
    )

    all_vecs = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    one_shot = sorted(
        (r["vec_id"], r["cell"], tuple(r["code"]))
        for r in ann_index_rows(all_vecs, cents, cbs).collect()
    )
    streamed = sorted(
        (r["vec_id"], r["cell"], tuple(r["code"]))
        for r in index.read().select("vec_id", "cell", "code").collect()
    )
    assert streamed == one_shot

    # crash-replay worst case: fresh checkpoint, every file re-fires
    assert stream_ann_index(
        spark, str(landing), DDL, index, str(tmp_path / "ck2"), cents, cbs
    )
    replayed = sorted(
        (r["vec_id"], r["cell"], tuple(r["code"]))
        for r in index.read().select("vec_id", "cell", "code").collect()
    )
    assert replayed == one_shot


def test_stream_profile_drift_alerts_once_and_replays_quietly(spark, tmp_path):
    """Continuous profiling: wave 2's null storm on `v` must raise ONE
    alert, the baseline store stays O(columns), and a full re-drain with
    a fresh checkpoint re-fires nothing (incident-keyed at-most-once)."""
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        CircuitBreaker,
        stream_profile_drift,
    )

    landing = tmp_path / "rows"
    store = MergeTable(spark, str(tmp_path / "profiles"), "column")
    breaker = CircuitBreaker(str(tmp_path / "breaker"))
    alerts: list[str] = []
    DDL = "k LONG, v DOUBLE"

    write_json(landing / "w1.json", [{"k": i, "v": float(i)} for i in range(10)])
    assert stream_profile_drift(
        spark, str(landing), DDL, store, str(tmp_path / "ck1"), breaker,
        on_alert=alerts.append,
    )
    assert alerts == []  # first batch has no baseline to drift from

    write_json(
        landing / "w2.json",
        [{"k": i, "v": None if i % 2 else float(i)} for i in range(10)],
    )
    assert stream_profile_drift(
        spark, str(landing), DDL, store, str(tmp_path / "ck1"), breaker,
        on_alert=alerts.append,
    )
    assert alerts == ["null_drift:v"]
    assert store.read().count() == 2  # one row per column, forever

    # crash-replay worst case: fresh checkpoint, both files re-fire
    assert stream_profile_drift(
        spark, str(landing), DDL, store, str(tmp_path / "ck2"), breaker,
        on_alert=alerts.append,
    )
    assert alerts == ["null_drift:v"]


def test_stream_interval_join_streaming_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join must produce exactly
    the batch join's pairs when both streams drain with AvailableNow —
    and reject malformed tolerance strings before they reach expr."""
    import pytest as _pytest

    from etl_instagram_spark.streaming.incremental import stream_interval_join

    clicks = [
        {"user_id": 1, "ts": "2024-01-01T10:00:00Z", "click_id": 100},
        {"user_id": 1, "ts": "2024-01-01T12:00:00Z", "click_id": 101},
        {"user_id": 2, "ts": "2024-01-01T10:05:00Z", "click_id": 200},
    ]
    views = [
        {"user_id": 1, "ts": "2024-01-01T09:50:00Z", "view_id": 900},  # in window of 100
        {"user_id": 1, "ts": "2024-01-01T11:59:00Z", "view_id": 901},  # in window of 101
        {"user_id": 1, "ts": "2024-01-01T09:30:00Z", "view_id": 902},  # too early
        {"user_id": 2, "ts": "2024-01-01T10:06:00Z", "view_id": 903},  # after the click
    ]
    write_json(tmp_path / "clicks" / "c.json", clicks)
    write_json(tmp_path / "views" / "v.json", views)
    C_DDL = "user_id LONG, ts TIMESTAMP, click_id LONG"
    V_DDL = "user_id LONG, ts TIMESTAMP, view_id LONG"

    def pairs_of(df):
        return sorted((r["click_id"], r["view_id"]) for r in df.collect())

    batch = stream_interval_join(
        spark.read.schema(C_DDL).json(str(tmp_path / "clicks")),
        spark.read.schema(V_DDL).json(str(tmp_path / "views")),
        key="user_id",
    ).select("click_id", "view_id")
    expect = [(100, 900), (101, 901)]
    assert pairs_of(batch) == expect

    joined = stream_interval_join(
        spark.readStream.schema(C_DDL).json(str(tmp_path / "clicks")),
        spark.readStream.schema(V_DDL).json(str(tmp_path / "views")),
        key="user_id",
    ).select("click_id", "view_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ivj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert pairs_of(spark.table("ivj")) == expect

    with _pytest.raises(ValueError):
        stream_interval_join(
            spark.read.schema(C_DDL).json(str(tmp_path / "clicks")),
            spark.read.schema(V_DDL).json(str(tmp_path / "views")),
            key="user_id",
            tolerance="15; DROP TABLE x",
        )


def test_stream_kmeans_stats_equals_batch_refine_and_replays(spark, tmp_path):
    """The continuous k-means statistics must imply EXACTLY the
    centroids one batch Lloyd's iteration computes over the union of
    every batch (integer sums merge exactly across any batch split),
    and re-applying an epoch's delta must change nothing."""
    from etl_instagram_spark.operators.clustering import refine_centroids
    from etl_instagram_spark.streaming.incremental import (
        apply_kmeans_delta,
        drain,
        kmeans_read_centroids,
    )

    dim = 4
    cents = [[0.0] * dim, [5.0] * dim, [-50.0] * dim]  # third stays empty

    def vec(i, base):
        return [base + (i % 7) * 0.25 + d * 0.5 for d in range(dim)]

    wave1 = [{"vec_id": i, "embedding": vec(i, 0.0)} for i in range(40)]
    wave2 = [{"vec_id": 100 + i, "embedding": vec(i, 5.0)} for i in range(40)]

    landing = tmp_path / "vecs"
    store = MergeTable(spark, str(tmp_path / "kstats"), ["epoch_id", "cell"])
    ckpt = str(tmp_path / "ckpt_km")
    DDL = "vec_id long, embedding array<double>"

    def tick(batch_df, epoch_id):
        apply_kmeans_delta(store, batch_df, epoch_id, cents, quant_dp=6)

    write_json(landing / "w1.json", wave1)
    drain(spark, str(landing), DDL, ckpt, tick)
    write_json(landing / "w2.json", wave2)
    drain(spark, str(landing), DDL, ckpt, tick)

    got = kmeans_read_centroids(store, cents)
    all_rows = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in wave1 + wave2], DDL
    )
    want = refine_centroids(all_rows, cents, n_iter=1)
    assert got == want  # bit-exact, incl. the untouched empty cell
    assert got[2] == [-50.0] * dim

    # replay: re-applying an already-committed epoch is a no-op
    before = sorted(map(tuple, store.read().collect()))
    batch1 = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in wave1], DDL
    )
    apply_kmeans_delta(store, batch1, 0, cents, quant_dp=6)
    assert sorted(map(tuple, store.read().collect())) == before
    assert kmeans_read_centroids(store, cents) == want


def test_stream_profile_drift_shape_median_alerts_once_and_replays(spark, tmp_path):
    """The dcm-backed distribution-shape face (r13): wave 2 plants a
    median shift (values ~10 -> ~400) that never touches the null
    profile — the cumulative-median monitor must raise exactly ONE
    shape alert, a stable wave 3 must add none, and a full re-drain
    with a fresh checkpoint re-fires nothing (the before/after medians
    are epoch-key filters, so a replayed epoch reproduces the same
    swallowed incident)."""
    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.streaming.incremental import (
        CircuitBreaker,
        stream_profile_drift,
    )

    landing = tmp_path / "rows"
    store = MergeTable(spark, str(tmp_path / "profiles"), "column")
    dcm = MergeTable(
        spark,
        str(tmp_path / "dcm"),
        ["epoch_id", "lvl", "j", "col"],
    )
    breaker = CircuitBreaker(str(tmp_path / "breaker"))
    alerts: list[str] = []
    DDL = "k LONG, v LONG"
    kw = dict(
        breaker=breaker,
        on_alert=alerts.append,
        shape_col="v",
        dcm_store=dcm,
        max_median_rel_delta=0.5,
    )

    write_json(landing / "w1.json", [{"k": i, "v": 10 + i} for i in range(20)])
    assert stream_profile_drift(
        spark, str(landing), DDL, store, str(tmp_path / "ck1"), **kw
    )
    assert alerts == []  # first epoch: no 'before' median to drift from

    # the shift: same null profile, wildly different value distribution
    write_json(
        landing / "w2.json", [{"k": i, "v": 400 + i} for i in range(60)]
    )
    assert stream_profile_drift(
        spark, str(landing), DDL, store, str(tmp_path / "ck1"), **kw
    )
    assert alerts == ["shape_drift:v"]

    # a stable wave: cumulative median barely moves, nothing new fires
    write_json(
        landing / "w3.json", [{"k": i, "v": 400 + i} for i in range(10)]
    )
    assert stream_profile_drift(
        spark, str(landing), DDL, store, str(tmp_path / "ck1"), **kw
    )
    assert alerts == ["shape_drift:v"]

    # relocation worst case: the epoch-keyed register store and its
    # checkpoint move TOGETHER (the apply_rollup_delta contract), so a
    # full rebuild re-detects the same drift — and the breaker's
    # incident store swallows the duplicate alert (W9 at-most-once)
    kw2 = dict(
        kw,
        dcm_store=MergeTable(
            spark, str(tmp_path / "dcm2"), ["epoch_id", "lvl", "j", "col"]
        ),
    )
    assert stream_profile_drift(
        spark, str(landing), DDL, store, str(tmp_path / "ck2"), **kw2
    )
    assert alerts == ["shape_drift:v"]


def test_compact_dcm_store_invariant_and_guarded(spark, tmp_path):
    """compact_dcm_store folds committed epochs to one register set:
    quantile answers and dcm_read_registers are bit-identical before
    and after (sum-merge invariance), row count drops, the newest
    epoch survives for replay, and compacting at-or-above the newest
    epoch is rejected loudly (the compact_rollup_partials contract)."""
    import pytest as _pytest

    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.operators.sketches import dcm_quantiles
    from etl_instagram_spark.streaming.incremental import (
        apply_dcm_delta,
        compact_dcm_store,
        dcm_read_registers,
    )

    store = MergeTable(
        spark, str(tmp_path / "dcm"), ["epoch_id", "lvl", "j", "col"]
    )
    for ep, lo in ((0, 0), (1, 100), (2, 300)):
        batch = spark.createDataFrame(
            [(lo + i,) for i in range(40)], "v long"
        )
        apply_dcm_delta(store, batch, ep, "v")
    before_regs = sorted(
        map(tuple, dcm_read_registers(store).collect())
    )
    before_q = sorted(
        map(
            tuple,
            dcm_quantiles(
                dcm_read_registers(store), [(1, 4), (1, 2), (3, 4)]
            ).collect(),
        )
    )
    n_before = store.read().count()
    eliminated = compact_dcm_store(store, through_epoch=1)
    assert eliminated > 0
    assert store.read().count() == n_before - eliminated
    # the newest epoch's rows survive un-rekeyed for replay safety
    assert (
        store.read().filter(F.col("epoch_id") == 2).count() > 0
    )
    assert sorted(map(tuple, dcm_read_registers(store).collect())) == before_regs
    after_q = sorted(
        map(
            tuple,
            dcm_quantiles(
                dcm_read_registers(store), [(1, 4), (1, 2), (3, 4)]
            ).collect(),
        )
    )
    assert after_q == before_q
    # re-runnable at a higher watermark; the newest epoch is protected
    with _pytest.raises(ValueError, match="newest epoch"):
        compact_dcm_store(store, through_epoch=2)
