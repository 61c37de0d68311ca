"""Tests for the stemmer, topics kernel (incl. the kimchi golden
fixture, FIXTURES.md §3), corpus LDA, and the labels enrichment stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.enrich import labels as L
from etl_instagram_spark.enrich import topics as TP
from etl_instagram_spark.functions.stemmer import porter_stem, stem_tokens

KIMCHI_CAPTION = (
    "Kimchi fried rice with crispy pork belly and a fried egg on top. "
    "Fermented kimchi is the secret, kimchi makes everything better. "
    "#kimchi #friedrice #porkbelly #foodie #chicagoeats #koreanfood "
    "#homecooking #dinner #yum #foodstagram"
)


def test_porter_stem_known_pairs():
    # classic pairs from the Porter (1980) paper
    for word, stem in [
        ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
        ("caress", "caress"), ("cats", "cat"), ("feed", "feed"),
        ("agreed", "agre"), ("plastered", "plaster"), ("motoring", "motor"),
        ("sing", "sing"), ("conflated", "conflat"), ("troubled", "troubl"),
        ("sized", "size"), ("hopping", "hop"), ("relational", "relat"),
        ("conditional", "condit"), ("rational", "ration"), ("happy", "happi"),
        ("probate", "probat"), ("controll", "control"), ("roll", "roll"),
    ]:
        assert porter_stem(word) == stem, word


def test_stem_tokens_udf(spark):
    df = spark.createDataFrame([(["running", "quickly", "cats"],), (None,)], "t array<string>")
    out = [r["s"] for r in df.select(stem_tokens(F.col("t")).alias("s")).collect()]
    assert out[0] == ["run", "quickli", "cat"]
    assert out[1] is None


def test_normalized_tokens_and_stop_drop(spark):
    df = spark.createDataFrame(
        [('Hello, WORLD "quoted" http://x.com el perro y the cat a1!!',)], "text string"
    )
    toks = df.select(TP.normalized_tokens(F.col("text")).alias("t")).collect()[0]["t"]
    assert "hello" in toks and "world" in toks and "quoted" in toks
    assert "a1" in toks  # digits kept, '!' stripped
    kept = df.select(
        TP.drop_stop_tokens(TP.normalized_tokens(F.col("text"))).alias("t")
    ).collect()[0]["t"]
    # stopwords (el, y, the), short tokens, urls dropped
    assert "el" not in kept and "the" not in kept and "perro" in kept
    assert not any(t.startswith("http") for t in kept)


def test_dual_raw_and_stem_stopword_check(spark):
    # lda/index.js:40 drops a token when EITHER the apostrophe-stripped
    # raw form OR the Porter stem is a stopword:
    #  - "doings" stems to "do" (a stopword) though the raw form is not
    #  - "ain't" raw-strips to "aint" (in the reference EN list verbatim)
    #  - "kimchi" survives both checks
    df = spark.createDataFrame([("doings ain't kimchi taken",)], "text string")
    raw = TP.normalized_tokens(F.col("text"))
    df = df.withColumn("__raw", raw).withColumn("__stems", stem_tokens(F.col("__raw")))
    kept = df.select(
        TP.drop_stop_tokens(
            F.col("__raw"), langs=("en",), stems=F.col("__stems")
        ).alias("t")
    ).collect()[0]["t"]
    assert "do" not in kept and "doing" not in kept  # stem hit drops it
    assert not any(t.startswith("ain") for t in kept)  # raw-noapos hit
    assert "kimchi" in kept  # survivors come back STEMMED
    assert "taken" not in kept and "kimchi" in kept


def test_prefilter_factorization_equals_dual_check(spark):
    # the attach_topics fast path (raw_keep_tokens → stem → drop_stop_stems)
    # must keep exactly what the unfactorized dual check keeps, in order
    df = spark.createDataFrame(
        [
            ("doings ain't kimchi taken the a http://x.com running cats",),
            ("really just like getting fermented rice el perro y",),
            ("",),
        ],
        "text string",
    )
    df = df.withColumn("__raw", TP.normalized_tokens(F.col("text")))
    df = df.withColumn("__stems", stem_tokens(F.col("__raw")))
    dual = [
        r["t"]
        for r in df.select(
            TP.drop_stop_tokens(
                F.col("__raw"), langs=("en",), stems=F.col("__stems")
            ).alias("t")
        ).collect()
    ]
    df2 = df.withColumn("__kept", TP.raw_keep_tokens(F.col("__raw"), langs=("en",)))
    df2 = df2.withColumn("__kstems", stem_tokens(F.col("__kept")))
    fact = [
        r["t"]
        for r in df2.select(
            TP.drop_stop_stems(F.col("__kstems"), langs=("en",)).alias("t")
        ).collect()
    ]
    assert fact == dual


def test_reference_only_stopwords_no_longer_surface_as_topics(spark):
    # the user-visible parity gap the verbatim port closes: "really",
    # "just", "like", "getting" are in the reference's vendored EN list
    # but NOT in generic public stopword inventories — with the old lists
    # they surfaced as topics on real captions
    df = spark.createDataFrame(
        [("x", "really just like getting kimchi kimchi really just",)],
        "id string, caption string",
    )
    out = TP.attach_topics(df, text_col=F.col("caption"), langs=("en",)).collect()[0][
        "topics"
    ]
    assert [t["name"] for t in out] == ["kimchi"]


def test_verbatim_reference_stopword_lists():
    from etl_instagram_spark.functions import stopwords as SW

    # stopwords_en.js ships 660 entries (652 unique); stopwords_es.js
    # ships 767 own entries (766 unique) + the EN spread
    assert len(SW.EN) == 652
    assert len(SW.ES_OWN) == 766
    assert SW.ES == SW.ES_OWN | SW.EN
    # reference-only words absent from generic public lists
    for w in ("aint", "abroad", "adj", "zero", "co.", "no-one"):
        assert w in SW.EN, w
    for w in ("aca", "jeing0812", "esperamos", "favorita"):
        assert w in SW.ES_OWN, w


def test_top_terms_shape_and_ordering(spark):
    df = spark.createDataFrame([(["b", "a", "a", "a", "c", "b"],), ([],)], "terms array<string>")
    out = df.select(TP.top_terms_col(F.col("terms"), k=2).alias("topics")).collect()
    top = out[0]["topics"]
    assert [t["name"] for t in top] == ["a", "b"]
    assert top[0]["confidence"] == 50.0  # 3 of 6
    assert top[1]["confidence"] == round(2 / 6 * 100, 2)
    assert out[1]["topics"] == []  # empty doc → NO_TOPICS (topics.js:33-35)


def test_kimchi_golden_fixture(spark):
    df = spark.createDataFrame(
        [("p1", KIMCHI_CAPTION, None, "Cafe Estrella", "Chicago, Illinois")],
        "id string, caption string, accessibility string, full_name string, loc_name string",
    )
    text = TP.assemble_document(
        F.col("caption"), F.col("accessibility"), F.col("full_name"), F.col("loc_name")
    )
    out = TP.attach_topics(df, text_col=text).collect()[0]["topics"]
    assert 0 < len(out) <= 7
    assert all(t["confidence"] >= 2.0 for t in out)
    names = [t["name"] for t in out]
    assert "kimchi" in names  # dominant term survives stemming
    assert names == sorted(names, key=lambda n: (-dict(zip(names, [t["confidence"] for t in out]))[n], n))
    # deterministic across runs
    again = TP.attach_topics(df, text_col=text).collect()[0]["topics"]
    assert out == again


def test_attach_topics_unstemmed_no_udf(spark):
    df = spark.createDataFrame([("x", "data data pipeline pipeline pipeline scale",)], "id string, caption string")
    out = TP.attach_topics(df, text_col=F.col("caption"), stem=False).collect()[0]["topics"]
    assert out[0]["name"] == "pipeline" and out[0]["confidence"] == 50.0


def test_corpus_topics_runs_and_is_seeded(spark):
    rows = [
        (1, "spark catalyst optimizer rewrites plans spark catalyst"),
        (2, "kimchi fried rice pork belly kimchi dinner"),
        (3, "catalyst plans pushdown pruning spark optimizer"),
        (4, "rice noodles dinner kimchi pork"),
    ] * 3
    df = spark.createDataFrame(rows, "id long, text string").repartition(2, "id")
    topics1, docs1 = TP.corpus_topics(df, "text", k=2, seed=7, optimizer="em")
    topics2, _ = TP.corpus_topics(df, "text", k=2, seed=7, optimizer="em")
    t1 = topics1.collect()
    assert len(t1) == 2
    assert all(len(r["terms"]) > 0 for r in t1)
    assert t1 == topics2.collect()  # seeded determinism
    assert docs1.count() == 12


def test_attach_labels_stub(spark):
    df = spark.createDataFrame(
        [("1", "https://cdn/a.jpg"), ("2", "https://cdn/b.jpg"), ("3", None)],
        "id string, media_url string",
    )
    out = {r["id"]: r["labels"] for r in L.attach_labels(df).collect()}
    assert out["3"] is None
    assert 1 <= len(out["1"]) <= L.MAX_LABELS
    assert all(50.0 <= lab["confidence"] <= 100.0 for lab in out["1"])
    # deterministic: same URL → same labels
    again = {r["id"]: r["labels"] for r in L.attach_labels(df).collect()}
    assert again["1"] == out["1"]
    names = [lab["name"] for lab in out["1"]]
    assert len(names) == len(set(names))  # no duplicate label names


def test_corpus_topics_stemmed_vocabulary(spark):
    # stem=True (the reference path, lda/index.js:39-46): topic terms are
    # Porter stems; stem=False keeps surface forms
    rows = [(i, "running runners sprinting marathon kimchi cooking") for i in range(6)]
    df = spark.createDataFrame(rows, "id long, text string")
    topics, _ = TP.corpus_topics(df, "text", k=2, seed=3, optimizer="em", stem=True)
    names = {t["name"] for r in topics.collect() for t in r["terms"]}
    assert "run" in names or "runner" in names  # stemmed forms
    assert "running" not in names
    topics_raw, _ = TP.corpus_topics(df, "text", k=2, seed=3, optimizer="em", stem=False)
    raw_names = {t["name"] for r in topics_raw.collect() for t in r["terms"]}
    assert "running" in raw_names


@pytest.mark.parametrize("langs", [("es",), ["es"]], ids=["tuple", "list"])
def test_attach_topics_default_assembly_accepts_langs_sequence(spark, langs):
    # the default text_col path caches its Column set keyed on langs: a
    # list must key like the equal tuple instead of raising TypeError.
    # Schema only — no Spark job runs.
    df = spark.createDataFrame(
        [],
        "id string, caption string, accessibility string, "
        "user struct<full_name:string>, location struct<name:string>",
    )
    out = TP.attach_topics(df, langs=langs)
    assert out.columns == df.columns + ["topics"]
    assert out.schema["topics"].dataType.simpleString() == (
        "array<struct<confidence:double,name:string>>"
    )


def test_topics_column_cache_survives_a_missing_context(spark, monkeypatch):
    # a build with no live SparkContext raises, and must not evict the
    # live context's cached Columns on its way. Builds Columns only — no
    # Spark job runs.
    from pyspark import SparkContext

    TP._pipeline_cols(("es",), 7, 2.0, False)
    live = set(TP._PIPE_COLS) | set(TP._STOP_LITS)
    assert live
    sc = SparkContext._active_spark_context
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    with pytest.raises(AssertionError):
        TP._pipeline_cols(("es",), 7, 2.0, False)
    monkeypatch.setattr(SparkContext, "_active_spark_context", sc)
    assert live <= set(TP._PIPE_COLS) | set(TP._STOP_LITS)
