"""Boilerplate-line removal and repetition-fraction tests: semantics on
planted boilerplate, order preservation, distinct-doc counting, row
preservation, a DuckDB replay of the whole removal pipeline, and the
Gopher repetition expressions against hand-computed values."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.operators.cleanup import (
    boilerplate_lines,
    dup_line_char_fraction,
    dup_line_fraction,
    remove_boilerplate_lines,
)

COOKIE = "Accept cookies"
FOOTER = "© example corp"


@pytest.fixture()
def crawl(spark):
    return spark.createDataFrame(
        [
            (1, f"{COOKIE}\nreal article one\nmore text\n{FOOTER}"),
            (2, f"{COOKIE}\nreal article two\n{FOOTER}"),
            (3, f"unique page\nOwn heading\nOwn heading\n{FOOTER}"),
            (4, COOKIE),                       # all-boilerplate doc
            (5, "untouched\n\nwith empty line"),
        ],
        "doc_id long, text string",
    )


def test_boilerplate_detected_by_distinct_docs(spark, crawl):
    bp = {r["line_norm"]: r["n_docs"] for r in boilerplate_lines(crawl, "doc_id", "text", 2).collect()}
    assert bp == {COOKIE.lower(): 3, FOOTER.lower(): 3}
    # doc 3 repeats "Own heading" twice but in ONE doc — not boilerplate


def test_removal_preserves_order_rows_and_empties(spark, crawl):
    out = {
        r["doc_id"]: (r["text"], r["n_boilerplate_removed"])
        for r in remove_boilerplate_lines(crawl, "doc_id", "text", 2).collect()
    }
    assert len(out) == 5  # row count preserved
    assert out[1] == ("real article one\nmore text", 2)
    assert out[2] == ("real article two", 2)
    assert out[3] == ("unique page\nOwn heading\nOwn heading", 1)
    assert out[4] == ("", 1)  # all-boilerplate doc empties, not dropped
    assert out[5] == ("untouched\n\nwith empty line", 0)  # empty line kept


def test_removal_matches_duckdb_replay(spark, crawl):
    """The whole pipeline — explode, distinct-doc count, threshold,
    anti-join, ordered reassembly — replayed in SQL on another engine."""
    got = sorted(
        (r["doc_id"], r["text"])
        for r in remove_boilerplate_lines(crawl, "doc_id", "text", 2).collect()
    )
    rows = [(r["doc_id"], r["text"]) for r in crawl.collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = sorted(
        con.sql(
            """
            WITH split AS (
              SELECT doc_id, string_split(text, chr(10)) AS parts FROM docs),
            posed AS (
              SELECT doc_id, parts,
                     unnest(generate_series(1, len(parts))) AS pos
              FROM split),
            lines AS (
              SELECT doc_id, pos, parts[pos] AS line,
                     trim(lower(parts[pos])) AS norm
              FROM posed),
            bp AS (
              SELECT norm FROM lines WHERE norm <> ''
              GROUP BY norm HAVING count(DISTINCT doc_id) >= 2)
            SELECT d.doc_id,
                   coalesce((SELECT string_agg(l.line, chr(10) ORDER BY l.pos)
                             FROM lines l
                             WHERE l.doc_id = d.doc_id
                               AND (l.norm = '' OR l.norm NOT IN (SELECT norm FROM bp))), '')
            FROM docs d
            """
        ).fetchall()
    )
    assert got == want


def test_min_docs_threshold_and_validation(spark, crawl):
    assert boilerplate_lines(crawl, "doc_id", "text", 4).count() == 0
    with pytest.raises(ValueError, match="min_docs"):
        boilerplate_lines(crawl, "doc_id", "text", 1)


def test_dup_line_fractions(spark):
    df = spark.createDataFrame(
        [
            (1, "a\nb\nc"),            # no dups
            (2, "a\na\nb"),            # 1 of 3 lines duplicate
            (3, "LongLine\nlongline\nx"),  # case-normalized dup
            (4, ""),                   # degenerate
            (5, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (round(r["dlf"], 4), round(r["dlcf"], 4))
        for r in df.select(
            "doc_id",
            dup_line_fraction(F.col("text")).alias("dlf"),
            dup_line_char_fraction(F.col("text")).alias("dlcf"),
        ).collect()
    }
    assert got[1] == (0.0, 0.0)
    assert got[2] == (round(1 / 3, 4), round(1 / 3, 4))
    # 3: one dup line of 8 chars among 17 total chars
    assert got[3] == (round(1 / 3, 4), round(8 / 17, 4))
    assert got[4] == (0.0, 0.0)
    assert got[5] == (0.0, 0.0)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_redact_pii_kinds_and_order(spark):
    from etl_instagram_spark.operators.cleanup import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@example.co.uk now"),
            (2, "server 10.0.255.1 answered"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "order #1234567890123 shipped v1.2.3"),  # id + version: untouched
            (5, "reach a@b.io or 192.168.0.1"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["t"] for r in df.select("id", redact_pii(F.col("text")).alias("t")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "server <IP> answered"
    assert got[3] == "call <PHONE> today"
    assert got[4] == "order #1234567890123 shipped v1.2.3"  # bare id run: untouched
    assert got[5] == "reach <EMAIL> or <IP>"

    counts = {r["id"]: r["c"].asDict() for r in df.select("id", pii_counts(F.col("text")).alias("c")).collect()}
    assert counts[5] == {"email": 1, "ipv4": 1, "phone": 0}

    only_email = df.select("id", redact_pii(F.col("text"), kinds=("email",)).alias("t"))
    assert {r["id"]: r["t"] for r in only_email.collect()}[2] == "server 10.0.255.1 answered"
    with pytest.raises(ValueError, match="unknown PII kinds"):
        df.select(redact_pii(F.col("text"), kinds=("ssn",)))


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_flag_contaminated_ngram_overlap(spark):
    from etl_instagram_spark.operators.cleanup import flag_contaminated

    bench = spark.createDataFrame(
        [("q1", "what is the capital of france and why does it matter")],
        "qid string, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "irrelevant text about cooking pasta with plenty of words here"),
            # contains a verbatim 8-gram from the benchmark
            (2, "quiz: what is the capital of france and why ask"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["contaminated"], r["n_hit_shingles"])
           for r in flag_contaminated(docs, bench, "doc_id", "text", n=8).collect()}
    assert out[1] == (False, 0)
    assert out[2][0] is True and out[2][1] >= 1
    assert out[3] == (False, 0)
    assert len(out) == 3  # every doc kept, flagged not filtered

    with pytest.raises(ValueError, match="n must be"):
        flag_contaminated(docs, bench, "doc_id", "text", n=1)


def test_flag_contaminated_no_cartesian_plan(spark):
    from etl_instagram_spark.operators.cleanup import flag_contaminated

    bench = spark.createDataFrame([("b", "a b c d e f g h i j k l m n")], "qid string, text string")
    docs = spark.createDataFrame([(1, "a b c d e f g h i j k l m n o")], "doc_id long, text string")
    plan = (
        flag_contaminated(docs, bench, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_pii_leaves_dates_decimals_ranges_alone(spark):
    from etl_instagram_spark.operators.cleanup import redact_pii

    df = spark.createDataFrame(
        [
            (1, "released on 2024-05-01 at 12:30"),
            (2, "pi is 3.1415926 exactly"),
            (3, "pages 123-130 and years 2020-2024"),
            (4, "order #1234567890123 shipped"),
            (5, "call 555-123-4567 or (55) 1234 5678 or +44 20 7946 0958"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["t"] for r in df.select("id", redact_pii(F.col("text")).alias("t")).collect()}
    assert got[1] == "released on 2024-05-01 at 12:30"
    assert got[2] == "pi is 3.1415926 exactly"
    assert got[3] == "pages 123-130 and years 2020-2024"
    assert got[4] == "order #1234567890123 shipped"
    assert got[5] == "call <PHONE> or <PHONE> or <PHONE>"


def test_boilerplate_null_id_and_text_pass_through(spark):
    df = spark.createDataFrame(
        [
            (1, "shared line\nreal one"),
            (2, "shared line\nreal two"),
            (None, "valuable article text"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["text"], r["n_boilerplate_removed"])
           for r in remove_boilerplate_lines(df, "doc_id", "text", 2).collect()}
    assert out[1] == ("real one", 1)
    assert out[None] == ("valuable article text", 0)  # untouched, not blanked
    assert out[3] == (None, 0)  # null text stays null


def test_boilerplate_matches_across_crlf_and_lf(spark):
    df = spark.createDataFrame(
        [
            (1, "Accept cookies\r\nstory one"),
            (2, "Accept cookies\nstory two"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in remove_boilerplate_lines(df, "doc_id", "text", 2).collect()}
    assert out == {1: "story one", 2: "story two"}


def test_flag_contaminated_short_benchmark_item(spark):
    """An eval question shorter than n tokens must still flag a corpus
    doc that embeds it verbatim (matched at the item's own length)."""
    from etl_instagram_spark.operators.cleanup import flag_contaminated

    bench = spark.createDataFrame(
        [("q1", "what is love"), ("q2", "")],  # 3 tokens < n=13; blank skipped
        "qid string, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the philosopher asked what is love and nobody answered "
                "with any certainty at all that day"),
            (2, "completely unrelated text about compilers and parsing"),
            (3, "what is"),  # shorter than the bench item itself
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["contaminated"]
           for r in flag_contaminated(docs, bench, "doc_id", "text", n=13).collect()}
    assert out[1] is True
    assert out[2] is False
    assert out[3] is False


def test_flag_contaminated_blank_benchmark_flags_nothing(spark):
    from etl_instagram_spark.operators.cleanup import flag_contaminated

    bench = spark.createDataFrame([("q1", "   ")], "qid string, text string")
    docs = spark.createDataFrame([(1, "some doc")], "doc_id long, text string")
    out = flag_contaminated(docs, bench, "doc_id", "text", n=13).collect()
    assert [r["contaminated"] for r in out] == [False]


# ---------------------------------------------------------------------------
# Gopher quality-filter rules
# ---------------------------------------------------------------------------

_GOOD = (
    "the quick brown fox jumps over that lazy dog and runs with great "
    "speed to be first at the gate of the meadow and have plenty of time "
    "that morning with friends to share the long road ahead and be glad "
    "of every mile that passed with song and cheer to the very end of "
    "that fine day with hope and the promise of rest"
)  # 62 natural words, stopword-rich, mean len in band


def _gopher_docs():
    words60 = " ".join(["castle", "meadow", "branch"] * 20)
    return [
        (0, _GOOD),
        (1, "the cat sat on the mat with that dog"),  # 9 words → n_words
        (2, " ".join(["aa", "to", "of"] * 20)),  # mean word len 2 → word_len
        (3, _GOOD + " " + "# " * 9),  # 9 '#' on 71 words → symbol_ratio
        (4, _GOOD + " " + "12345 " * 20),  # 20/82 numeric → alpha_words
        (5, words60),  # zero stopword hits → stopwords
        (6, "\n".join(["- item one of the lot to have and that with be"] * 6)),
        (7, _GOOD + "\n" + "\n".join(["so it goes on..."] * 3)),  # 3/4 lines
        (8, "\n".join(["the same line of that text to have with be"] * 6)),
        (9, ""),  # blank: n_words + stopwords only
    ]


def test_gopher_flags_each_rule_fires_on_its_crafted_doc(spark):
    from etl_instagram_spark.operators.cleanup import gopher_filter

    df = spark.createDataFrame(_gopher_docs(), "doc_id long, text string")
    rows = {r["doc_id"]: r.asDict() for r in gopher_filter(df, "text").collect()}
    assert rows[0]["gopher_pass"] is True
    expect = {
        1: "fail_n_words",
        2: "fail_word_len",
        3: "fail_symbol_ratio",
        4: "fail_alpha_words",
        5: "fail_stopwords",
        6: "fail_bullet_lines",
        7: "fail_ellipsis_lines",
        8: "fail_dup_lines",
    }
    for doc_id, flag in expect.items():
        assert rows[doc_id][flag] is True, (doc_id, flag, rows[doc_id])
        assert rows[doc_id]["gopher_pass"] is False
    # doc 8's duplicated lines also trip the char-weighted variant
    assert rows[8]["fail_dup_line_chars"] is True
    # blank text: fails word count (0 words) and stopwords, passes the
    # ratio rules vacuously
    assert rows[9]["fail_n_words"] is True
    assert rows[9]["fail_stopwords"] is True
    assert rows[9]["fail_word_len"] is False
    assert rows[9]["fail_symbol_ratio"] is False
    assert rows[9]["fail_dup_lines"] is False


def test_gopher_rules_match_duckdb_mirror_on_crafted_docs(spark):
    """Replay the REGISTERED gate oracle over a crafted corpus that
    exercises the line-shape and blank branches the synthetic gate data
    never hits — the drift test the sf0.01 hash can't provide."""
    import pandas as pd

    from etl_instagram_spark.operators.cleanup import gopher_filter
    from etl_instagram_spark.plans.oracle import all_oracle_sql

    docs = [
        (i, t, f"l{i % 3}", "src", len(t)) for i, t in _gopher_docs()
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    flagged = gopher_filter(df, "text")
    rules = [c for c in flagged.columns if c.startswith("fail_")]
    got = sorted(
        tuple(r)
        for r in flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("gopher_pass").cast("long")).alias("n_pass"),
            *[F.sum(F.col(c).cast("long")).alias(c) for c in rules],
        )
        .collect()
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ),
    )
    want = sorted(tuple(r) for r in con.sql(
        all_oracle_sql()["docs_gopher_filter"]
    ).fetchall())
    con.close()
    assert got == want


def test_gopher_null_text_rejected_not_vanished(spark):
    """NULL text must land in exactly one stream (reject), never in
    neither: the flags coalesce missing text to '' so the pass/reject
    split partitions the input."""
    from etl_instagram_spark.operators.cleanup import gopher_filter

    df = spark.createDataFrame([(1, None), (2, _GOOD)], "doc_id long, text string")
    out = gopher_filter(df, "text")
    passed = {r["doc_id"] for r in out.filter(F.col("gopher_pass")).collect()}
    rejected = {r["doc_id"] for r in out.filter(~F.col("gopher_pass")).collect()}
    assert passed == {2} and rejected == {1}
    row = {r["doc_id"]: r for r in out.collect()}[1]
    assert row["fail_n_words"] is True and row["fail_symbol_ratio"] is False


def test_gopher_unknown_threshold_rejected(spark):
    from etl_instagram_spark.operators.cleanup import gopher_filter

    df = spark.createDataFrame([(1, _GOOD)], "doc_id long, text string")
    with pytest.raises(TypeError, match="unknown gopher thresholds"):
        gopher_filter(df, "text", min_wordz=10)


# ---------------------------------------------------------------------------
# unigram LM perplexity (operators/lm.py)
# ---------------------------------------------------------------------------


def test_unigram_lm_hand_computed(spark):
    import math

    from etl_instagram_spark.operators import lm as L

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a zz"), (2, None), (3, "   ")],
        "doc_id long, text string",
    )
    model = L.fit_unigram_lm(df)
    # counts: a=3, b=1, zz=1 -> total=5, V=3, denom=9
    by_word = dict(model.entries)
    assert by_word["a"] == math.log2(4 / 9)
    assert by_word["b"] == math.log2(2 / 9)
    assert model.oov_logp == math.log2(1 / 9)
    scored = {
        r["doc_id"]: (r["n_words"], r["bits_per_word"])
        for r in L.doc_bits_per_word(df, model).collect()
    }
    assert scored[0][0] == 3
    expect0 = -(2 * math.log2(4 / 9) + math.log2(2 / 9)) / 3
    assert scored[0][1] == pytest.approx(expect0, rel=1e-12)
    assert scored[2] == (0, None) and scored[3] == (0, None)


def test_unigram_oov_scores_at_floor(spark):
    import math

    from etl_instagram_spark.operators import lm as L

    train = spark.createDataFrame([(0, "x x y")], "doc_id long, text string")
    model = L.fit_unigram_lm(train)
    unseen = spark.createDataFrame([(9, "qqq qqq")], "doc_id long, text string")
    r = L.doc_bits_per_word(unseen, model).first()
    assert r["bits_per_word"] == pytest.approx(-model.oov_logp, rel=1e-12)
    assert -model.oov_logp == pytest.approx(math.log2(6), rel=1e-12)


def test_perplexity_filter_keeps_low_bits_head(spark):
    from etl_instagram_spark.operators import lm as L

    # doc 0/1 use the dominant vocabulary; doc 2 is all-OOV gibberish
    df = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat ran"), (2, "zq xv jk wp")],
        "doc_id long, text string",
    )
    model = L.fit_unigram_lm(df.filter("doc_id < 2"))
    scored = {
        r["doc_id"]: r["bits_per_word"]
        for r in L.doc_bits_per_word(df, model).collect()
    }
    assert scored[2] > scored[0] and scored[2] > scored[1]
    cut = (max(scored[0], scored[1]) + scored[2]) / 2
    kept = sorted(
        r["doc_id"] for r in L.perplexity_filter(df, model, max_bits=cut).collect()
    )
    assert kept == [0, 1]
    # wordless docs carry no evidence and are dropped
    empty = spark.createDataFrame([(7, "  ")], "doc_id long, text string")
    assert L.perplexity_filter(empty, model, max_bits=100.0).count() == 0


def test_bigram_lm_hand_computed(spark):
    import math

    from etl_instagram_spark.operators import lm as L

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c")], "doc_id long, text string"
    )
    blm = L.fit_bigram_lm(df)
    bi = {(p, w): lp for p, w, lp in blm.bigram_entries}
    # contexts: a=3, b=2, c=1; pairs: (a,b)x2, (b,a)x1, (a,c)x1
    assert bi[("a", "b")] == math.log2(2 / 3)
    assert bi[("b", "a")] == math.log2(1 / 2)
    assert bi[("a", "c")] == math.log2(1 / 3)
    uni = dict(blm.unigram.entries)
    scored = {
        r["doc_id"]: (r["n_words"], r["bits_per_word"])
        for r in L.doc_bits_per_word_bigram(df, blm).collect()
    }
    # doc 0: uni(a), bi(a,b), bi(b,a), bi(a,b)
    lp0 = uni["a"] + bi[("a", "b")] + bi[("b", "a")] + bi[("a", "b")]
    assert scored[0] == (4, pytest.approx(-lp0 / 4, rel=1e-12))
    # doc 1: uni(a), bi(a,c)
    lp1 = uni["a"] + bi[("a", "c")]
    assert scored[1] == (2, pytest.approx(-lp1 / 2, rel=1e-12))


def test_bigram_backoff_on_unseen_pair(spark):
    import math

    from etl_instagram_spark.operators import lm as L

    train = spark.createDataFrame([(0, "x y x y")], "doc_id long, text string")
    blm = L.fit_bigram_lm(train)
    uni = dict(blm.unigram.entries)
    # "y y" never observed -> backoff + uni(y); "qq" is OOV everywhere
    test = spark.createDataFrame([(9, "y y qq")], "doc_id long, text string")
    r = L.doc_bits_per_word_bigram(test, blm).first()
    lp = (
        uni["y"]
        + (math.log2(0.4) + uni["y"])
        + (math.log2(0.4) + blm.unigram.oov_logp)
    )
    assert r["n_words"] == 3
    assert r["bits_per_word"] == pytest.approx(-lp / 3, rel=1e-12)


def test_compression_ratio_separates_spam_from_prose(spark):
    import zlib

    from etl_instagram_spark.operators.cleanup import (
        compression_band,
        compression_ratio,
    )

    prose = (
        "Catalyst rewrites declarative plans while Tungsten generates "
        "vectorized bytecode for the surviving physical operators, and "
        "adaptive execution re-plans shuffles from runtime statistics."
    )
    spam = "buy now click here " * 40
    df = spark.createDataFrame(
        [(0, prose), (1, spam), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["ratio"], r["band"])
        for r in df.select(
            "doc_id",
            compression_ratio(F.col("text")).alias("ratio"),
            # reuse the ratio column: one Arrow UDF, not two
            compression_band(F.col("text"), ratio=F.col("ratio")).alias("band"),
        ).collect()
    }
    # exact agreement with a local zlib reference
    for i, t in ((0, prose), (1, spam)):
        want = len(zlib.compress(t.encode())) / len(t.encode())
        assert rows[i][0] == pytest.approx(want, rel=1e-12)
    assert rows[1][0] < rows[0][0]
    assert rows[1][1] == "template_spam" and rows[0][1] == "natural"
    assert rows[2] == (None, None) and rows[3] == (None, None)


def test_fuzzy_decontamination_catches_paraphrase_exact_misses(spark):
    """A lightly edited eval item evades the exact 13-gram rule but must
    fall to the fuzzy Jaccard rule; unrelated docs stay clean either
    way."""
    from etl_instagram_spark.operators.cleanup import (
        flag_contaminated,
        flag_contaminated_fuzzy,
    )

    eval_q = (
        "what is the capital city of the republic of france and when was "
        "it founded by the early settlers of the region"
    )
    # same content, one word changed every ~10 tokens -> no shared 13-gram
    paraphrased = (
        "what is the capital town of the republic of france and when was "
        "it established by the early settlers of the region"
    )
    other = (
        "completely different prose about growing tomatoes on a balcony "
        "with drip irrigation and afternoon shade for the hot months of "
        "summer in a mediterranean climate zone somewhere far away"
    )
    docs = spark.createDataFrame(
        [(0, paraphrased), (1, other)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(eval_q,)], "text string")
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in flag_contaminated(docs, bench, "doc_id", "text").collect()
    }
    assert exact[0] is False  # the paraphrase slips the exact rule
    fuzzy = {
        r["doc_id"]: (r["fuzzy_contaminated"], r["max_eval_jaccard"])
        # bands=8 (band size 2): candidate P at J~0.54 is ~0.95 and this
        # specific pair deterministically collides under the fixed hashes
        for r in flag_contaminated_fuzzy(
            docs, bench, "doc_id", "text", threshold=0.4, bands=8
        ).collect()
    }
    assert fuzzy[0][0] is True and fuzzy[0][1] > 0.4
    assert fuzzy[1] == (False, 0.0)
    # the verify value is the exact shingle Jaccard of the two texts
    from etl_instagram_spark.operators.dedup import shingle_jaccard

    want = (
        spark.createDataFrame([(paraphrased, eval_q)], "a string, b string")
        .select(F.round(shingle_jaccard(F.col("a"), F.col("b")), 6).alias("j"))
        .first()["j"]
    )
    assert fuzzy[0][1] == want


def test_fuzzy_decontamination_threshold_validation(spark):
    from etl_instagram_spark.operators.cleanup import flag_contaminated_fuzzy

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    bench = spark.createDataFrame([("a b c",)], "text string")
    with pytest.raises(ValueError, match="threshold"):
        flag_contaminated_fuzzy(docs, bench, "doc_id", "text", threshold=0.0)


def test_fuzzy_decontamination_candidate_stage_is_equi_join(spark):
    """The corpus x benchmark candidate stage must be a band-hash
    equi-join — never a cartesian pair product."""
    from etl_instagram_spark.operators.cleanup import flag_contaminated_fuzzy

    docs = spark.range(30).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', 'w', id % 7, 'x', id % 5, 'y', id % 3, 'z', id, 'p', id % 11) AS text",
    )
    bench = spark.createDataFrame([("w 1 x 2 y 3 z 4 p 5",)], "text string")
    plan = (
        flag_contaminated_fuzzy(docs, bench, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_perplexity_filter_keeps_fluent_head(spark):
    from etl_instagram_spark.operators import lm as L

    fluent = ["the cat sat on the mat", "the cat ran on the mat"]
    df = spark.createDataFrame(
        [(0, fluent[0]), (1, fluent[1]), (2, "zq wv jk pq xx"), (3, "  ")],
        "doc_id long, text string",
    )
    blm = L.fit_bigram_lm(df.filter("doc_id < 2"))
    scored = {
        r["doc_id"]: r["bits_per_word"]
        for r in L.doc_bits_per_word_bigram(df, blm).collect()
    }
    cut = (max(scored[0], scored[1]) + scored[2]) / 2
    kept = sorted(
        r["doc_id"]
        for r in L.perplexity_filter_bigram(df, blm, max_bits=cut).collect()
    )
    assert kept == [0, 1]  # gibberish and the wordless doc are dropped


# ---------------------------------------------------------------------------
# Gopher n-gram repetition signals
# ---------------------------------------------------------------------------


def _ref_ngram_fractions(text, n):
    """Python reference for top/dup n-gram char fractions — the same
    semantics the column expressions claim (word chars only; top ties to
    the lexicographically smallest; dup = span coverage, overlap once)."""
    toks = (text or "").lower().split()
    total = sum(len(t) for t in toks)
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    if not grams or total == 0:
        return 0.0, 0.0
    counts = {}
    for g in grams:
        counts[g] = counts.get(g, 0) + 1
    best = max(counts.values())
    arg = min(g for g, c in counts.items() if c == best)
    top = best * (len(arg) - (n - 1)) / total
    dups = {g for g, c in counts.items() if c >= 2}
    covered = set()
    for j, g in enumerate(grams):
        if g in dups:
            covered.update(range(j, j + n))
    dup = (
        sum(len(toks[i]) for i in covered) / total if dups else 0.0
    )
    return top, dup


def test_ngram_fractions_hand_computed(spark):
    from etl_instagram_spark.operators.cleanup import (
        dup_ngram_char_fraction,
        top_ngram_char_fraction,
    )

    rows = [
        (0, "a b a b a b"),          # top-2 "a b" x3 covers all chars
        (1, "one two three four"),   # no repetition
        (2, None),                   # NULL
        (3, "   "),                  # blank
        (4, "tiny"),                 # fewer than n words
        (5, "x y z x y w x y"),      # partial coverage
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["top"], r["dup"])
        for r in df.select(
            "doc_id",
            top_ngram_char_fraction(F.col("text"), 2).alias("top"),
            dup_ngram_char_fraction(F.col("text"), 2).alias("dup"),
        ).collect()
    }
    assert got[0] == (1.0, 1.0)
    # top bigram of doc 1 ties at count 1 -> lexicographically smallest
    # is "four three"... sorted order; chars = len("fourthree")=9 over 15
    exp_top, exp_dup = _ref_ngram_fractions(rows[1][1], 2)
    assert abs(got[1][0] - exp_top) < 1e-12 and got[1][1] == exp_dup == 0.0
    assert got[2] == (0.0, 0.0) and got[3] == (0.0, 0.0) and got[4] == (0.0, 0.0)
    exp5 = _ref_ngram_fractions(rows[5][1], 2)
    assert abs(got[5][0] - exp5[0]) < 1e-12 and abs(got[5][1] - exp5[1]) < 1e-12


def test_ngram_fractions_match_python_reference_on_real_docs(spark, sf_smoke):
    from etl_instagram_spark.operators.cleanup import (
        dup_ngram_char_fraction,
        top_ngram_char_fraction,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(200)
    for n in (2, 3, 5, 10):
        got = docs.select(
            "doc_id",
            "text",
            top_ngram_char_fraction(F.col("text"), n).alias("top"),
            dup_ngram_char_fraction(F.col("text"), n).alias("dup"),
        ).collect()
        assert len(got) > 0
        for r in got:
            exp_top, exp_dup = _ref_ngram_fractions(r["text"], n)
            assert abs(r["top"] - exp_top) < 1e-12, (n, r["doc_id"])
            assert abs(r["dup"] - exp_dup) < 1e-12, (n, r["doc_id"])


def test_gopher_ngram_filter_flags_spam_and_passes_prose(spark):
    from etl_instagram_spark.operators.cleanup import gopher_ngram_filter

    spam = "buy now " * 40                       # top-2gram ~ everything
    passage = "this exact sentence repeats here and " * 3 + "then stops"
    prose = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "distinct words follow in a natural flowing order without any "
        "meaningful repetition of longer phrases at all"
    )
    df = spark.createDataFrame(
        [(0, spam), (1, passage), (2, prose)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_ngram_filter(df, "text").collect()}
    assert out[0]["fail_top_2gram_chars"] and not out[0]["gopher_ngram_pass"]
    assert out[1]["fail_dup_5gram_chars"] and not out[1]["gopher_ngram_pass"]
    assert out[2]["gopher_ngram_pass"], {
        k: v for k, v in out[2].items() if k.startswith("fail_") and v
    }


def test_ngram_fraction_rejects_bad_n(spark):
    from etl_instagram_spark.operators.cleanup import (
        dup_ngram_char_fraction,
        top_ngram_char_fraction,
    )

    with pytest.raises(ValueError):
        top_ngram_char_fraction(F.lit("a"), 1)
    with pytest.raises(ValueError):
        dup_ngram_char_fraction(F.lit("a"), 0)


# ---------------------------------------------------------------------------
# duplicate-span removal (ExactSubstr-style)
# ---------------------------------------------------------------------------


def _ref_remove_spans(rows, n, min_count=2):
    """Python reference: same semantics as remove_duplicate_spans."""
    toks = {i: (t or "").split() for i, t in rows if i is not None and t is not None}
    occ = {}
    for i in sorted(toks):
        ws = [w.lower() for w in toks[i]]
        for s in range(len(ws) - n + 1):
            occ.setdefault(" ".join(ws[s : s + n]), []).append((i, s + 1))
    removals = {}
    for _, places in occ.items():
        if len(places) >= min_count:
            for d, s in sorted(places)[1:]:
                removals.setdefault(d, []).append(s)
    out = {}
    for i, t in rows:
        if i not in toks:
            out[i] = (t, 0, 0)
            continue
        starts = removals.get(i)
        if not starts:
            out[i] = (t, 0, 0)
            continue
        covered = set()
        for s in starts:
            covered.update(range(s, s + n))
        kept = [wd for j, wd in enumerate(toks[i], 1) if j not in covered]
        out[i] = (" ".join(kept), len(starts), len(toks[i]) - len(kept))
    return out


def test_remove_duplicate_spans_hand_case(spark):
    from etl_instagram_spark.operators.cleanup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    passage = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"intro one two {passage} tail of first"),
        (2, f"other opening {passage} closing words here"),   # dup of passage
        (3, "a fully unrelated document with nothing shared"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_spans(df, "doc_id", "text", n=5).collect()
    assert any(r["keep_doc"] == 1 for r in spans)  # keeper = smallest doc
    out = {
        r["doc_id"]: (r["text"], r["n_spans_removed"], r["n_words_removed"])
        for r in remove_duplicate_spans(df, "doc_id", "text", n=5).collect()
    }
    # doc 1 keeps the passage verbatim (original text untouched)
    assert out[1] == (rows[0][1], 0, 0)
    # doc 2 loses exactly the 5 duplicated words
    assert passage not in out[2][0]
    assert out[2][0] == "other opening closing words here"
    assert out[2][1] == 1 and out[2][2] == 5
    assert out[3] == (rows[2][1], 0, 0)
    assert out[4] == (None, 0, 0)


def test_remove_duplicate_spans_matches_python_reference(spark, sf_smoke):
    from etl_instagram_spark.operators.cleanup import remove_duplicate_spans

    base = [
        (int(r["doc_id"]), r["text"])
        for r in spark.read.parquet(f"{sf_smoke}/documents.parquet")
        .limit(60)
        .collect()
    ]
    # plant cross-doc and within-doc duplication so the rule really fires
    shared = "the planted shared passage flows across documents verbatim today"
    rows = base + [
        (900001, f"lead in {shared} and then some more"),
        (900002, f"{shared} opens this one"),
        (900003, f"double {shared} middle {shared} end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    for n in (5, 9):
        want = _ref_remove_spans(rows, n)
        got = {
            r["doc_id"]: (r["text"], r["n_spans_removed"], r["n_words_removed"])
            for r in remove_duplicate_spans(df, "doc_id", "text", n=n).collect()
        }
        assert got == want, n


def test_remove_duplicate_spans_partitioning_independent(spark):
    from etl_instagram_spark.operators.cleanup import remove_duplicate_spans

    shared = " ".join(f"w{i}" for i in range(12))
    rows = [(i, f"doc {i} starts {shared} then diverges into path {i}") for i in range(20)]

    def snap(parts):
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(parts)
        return sorted(
            (r["doc_id"], r["text"], r["n_spans_removed"])
            for r in remove_duplicate_spans(df, "doc_id", "text", n=8).collect()
        )

    assert snap(1) == snap(13)


def test_duplicate_spans_validation(spark):
    from etl_instagram_spark.operators.cleanup import duplicate_spans

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        duplicate_spans(df, "doc_id", "text", n=1)
    with pytest.raises(ValueError):
        duplicate_spans(df, "doc_id", "text", n=5, min_count=1)


def test_perplexity_buckets_head_middle_tail(spark):
    """CCNet bucketing: deterministic tertiles over bits_per_word, per
    language when asked; wordless docs get NULL buckets without
    shifting anyone's rank."""
    from etl_instagram_spark.operators import lm as L

    fluent = [
        "the cat sat on the mat", "the cat ran on the mat",
        "the dog sat on the mat", "the cat sat on the rug",
        "a cat sat on a mat", "the mat sat on the cat",
    ]
    rows = (
        [(i, t, "en") for i, t in enumerate(fluent)]
        + [(90, "zq wv jk pq xx yy", "en"), (91, "qq ww ee rr tt uu", "en")]
        + [(95, "   ", "en")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ulm = L.fit_unigram_lm(df.filter("doc_id < 6"))
    out = L.perplexity_buckets(df, ulm, by="lang")
    got = {r["doc_id"]: r["ppl_bucket"] for r in out.collect()}
    assert got[95] is None
    # gibberish lands in the tail, fluent sentences fill the head
    assert got[90] == "tail" and got[91] == "tail"
    n = sum(1 for v in got.values() if v is not None)
    heads = [k for k, v in got.items() if v == "head"]
    assert all(k < 6 for k in heads) and len(heads) >= 2
    assert {v for v in got.values() if v} == {"head", "middle", "tail"}
    # partitioning-independent (deterministic rank ties)
    got2 = {
        r["doc_id"]: r["ppl_bucket"]
        for r in L.perplexity_buckets(df.repartition(7), ulm, by="lang").collect()
    }
    assert got2 == got
    import pytest as _pytest

    with _pytest.raises(ValueError):
        L.perplexity_buckets(df, ulm, cuts=(0.5, 0.4))
