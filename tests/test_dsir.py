"""DSIR importance resampling (operators/dsir): weight math pinned by a
pure-Python differential, selection pinned for partitioning-independence
and target-domain enrichment. Cross-engine value parity lives in the
non-gate row docs_dsir_selection (plans/extras_docs.py)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.dsir import (
    DsirModel,
    dsir_model_from_counts,
    dsir_weights,
    fit_dsir,
    gumbel_key,
    hashed_ngram_features,
    importance_sample,
)

B = 64


def _py_hash32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_features(text: str) -> list[int]:
    toks = [t for t in (text or "").strip().lower().split() if t]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return [_py_hash32(g) % B for g in grams]


CORPUS = [
    (0, "the cat sat on the mat"),
    (1, "el gato duerme en la alfombra"),
    (2, "the dog and the cat"),
    (3, "la casa es grande y bonita"),
    (4, ""),
    (5, "the the the the"),
]
TARGET_IDS = {0, 2, 5}  # "English-like" docs


@pytest.fixture(scope="module")
def model(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    target = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
    return fit_dsir(docs, target, n_buckets=B)


def test_model_matches_python_counts(model):
    raw, tgt = {}, {}
    for i, text in CORPUS:
        for b in _py_features(text):
            raw[b] = raw.get(b, 0) + 1
            if i in TARGET_IDS:
                tgt[b] = tgt.get(b, 0) + 1
    want = dsir_model_from_counts(raw, tgt, B)
    assert model == want  # bit-exact: same counts, same driver math


def test_weights_match_python_differential(spark, model):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in dsir_weights(docs, model).collect()
    }
    for i, text in CORPUS:
        feats = _py_features(text)
        n, w = got[i]
        assert n == len(feats)
        if not feats:
            assert w is None
        else:
            want = sum(model.log_ratios[b] for b in feats)
            assert w == pytest.approx(want, abs=1e-9)
    # the English-like docs must out-weigh the Spanish ones per feature
    en = [got[i][1] / got[i][0] for i in (0, 2) ]
    es = [got[i][1] / got[i][0] for i in (1, 3)]
    assert min(en) > max(es)


def test_sample_is_partitioning_independent_and_skips_empty(spark, model):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    a = sorted(
        (r["doc_id"], r["log_weight"], r["sample_key"])
        for r in importance_sample(docs, model, k=3).collect()
    )
    b = sorted(
        (r["doc_id"], r["log_weight"], r["sample_key"])
        for r in importance_sample(docs.repartition(7), model, k=3).collect()
    )
    assert a == b
    assert len(a) == 3
    # k beyond the weighted population returns every doc WITH features
    all_sel = importance_sample(docs, model, k=100).collect()
    assert sorted(r["doc_id"] for r in all_sel) == [0, 1, 2, 3, 5]


def test_gumbel_key_is_finite_and_seeded(spark):
    rows = spark.range(1000).select(
        gumbel_key(F.col("id"), F.lit(0.0)).alias("g"),
        gumbel_key(F.col("id"), F.lit(0.0), salt="other").alias("g2"),
    )
    got = rows.collect()
    assert all(math.isfinite(r["g"]) for r in got)
    # a different salt re-randomizes (not all keys can coincide)
    assert any(r["g"] != r["g2"] for r in got)
    # standard Gumbel has mean ~0.577 (Euler–Mascheroni); crude sanity
    mean = sum(r["g"] for r in got) / len(got)
    assert 0.3 < mean < 0.9


def test_selection_enriches_the_target_domain(spark):
    """On the real sf0.001 documents with the English slice as target,
    the selected set's English fraction must exceed the corpus base
    rate — the point of importance resampling."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    model = fit_dsir(docs, target, n_buckets=1024)
    base = docs.filter(F.col("lang") == "en").count() / docs.count()
    sel = importance_sample(docs, model, k=30).collect()
    frac = sum(1 for r in sel if r["lang"] == "en") / len(sel)
    assert frac > base + 0.15, (frac, base)


def test_bad_params_raise(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    with pytest.raises(ValueError):
        fit_dsir(docs, docs, n_buckets=1)
    with pytest.raises(ValueError):
        importance_sample(docs, DsirModel([0.0] * B, B), k=0)


def test_stream_dsir_counts_equals_batch_fit_and_replays(spark, tmp_path):
    """The continuously maintained raw-corpus counts must imply EXACTLY
    the model one batch fit computes over the union of every batch
    (integer counts merge exactly across any split), and re-applying an
    epoch's delta must change nothing."""
    import json

    from etl_instagram_spark.operators.merge import MergeTable
    from etl_instagram_spark.operators.dsir import bucket_counts
    from etl_instagram_spark.streaming.incremental import (
        apply_dsir_delta,
        drain,
        dsir_read_model,
    )

    def write_json(path, rows):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    wave1 = [{"doc_id": i, "text": f"alpha beta doc {i} common words"} for i in range(30)]
    wave2 = [{"doc_id": 100 + i, "text": f"gamma delta doc {i} common words"} for i in range(30)]
    landing = tmp_path / "docs"
    store = MergeTable(spark, str(tmp_path / "dsir_counts"), ["epoch_id", "bucket"])
    ckpt = str(tmp_path / "ckpt_dsir")
    DDL = "doc_id long, text string"

    def tick(batch_df, epoch_id):
        apply_dsir_delta(store, batch_df, epoch_id, n_buckets=B)

    write_json(landing / "w1.json", wave1)
    drain(spark, str(landing), DDL, ckpt, tick)
    write_json(landing / "w2.json", wave2)
    drain(spark, str(landing), DDL, ckpt, tick)

    all_rows = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in wave1 + wave2], DDL
    )
    target = all_rows.filter(F.col("doc_id") < 100)
    tgt_counts = bucket_counts(target, "text", B)
    got = dsir_read_model(store, tgt_counts, B)
    want = fit_dsir(all_rows, target, n_buckets=B)
    assert got == want  # bit-exact: identical counts, identical math

    # replay: re-applying an already-committed epoch is a no-op
    before = sorted(map(tuple, store.read().collect()))
    batch1 = spark.createDataFrame([(r["doc_id"], r["text"]) for r in wave1], DDL)
    apply_dsir_delta(store, batch1, 0, B)
    assert sorted(map(tuple, store.read().collect())) == before
    assert dsir_read_model(store, tgt_counts, B) == want
