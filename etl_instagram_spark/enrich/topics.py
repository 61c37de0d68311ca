"""Caption → topics: the reference's analytics kernel re-expressed
Spark-first (topics.js:5-48, lda/index.js:8-101).

The reference runs a per-post K=1 Gibbs LDA over sentence-documents —
observably a stemmed-keyword extractor returning
``array<struct<confidence: double, name: string>>`` (topics.js:37-47).
Two engine surfaces (SURVEY §3.3 decision):

- ``top_terms_col`` / ``attach_topics``: deterministic per-post top-k
  terms with normalized-frequency confidence — the observable-output
  parity path. Everything except stemming is a per-row Catalyst
  expression (tokenize → normalize → stop/short/url drop → count → top-k
  all inside the projection; NO shuffle, NO explode/groupBy round-trip).
- ``corpus_topics``: idiomatic corpus-level topic modelling via
  ``pyspark.ml.clustering.LDA`` (online variational, seeded) — the same
  estimand as the vendored Gibbs sampler (lda/index.js:141-227), at
  corpus scale.

Pipeline parity, step by step (lda/index.js:34-40):
tokenize on [\\s,"]+ (F3) → lowercase + strip [^a-z'A-Z0-9À-ÿ ] (F5) →
Porter stem (F6, pandas UDF) → drop len==1 / http-prefixed / stopword
(F7, EN+ES lists per O6). The stopword test is DUAL (lda/index.js:40):
a token is dropped when EITHER its apostrophe-stripped raw form OR its
Porter stem is in the list — and the length / http checks apply to the
RAW token, not the stem.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_instagram_spark.functions import stopwords
from etl_instagram_spark.functions.stemmer import stem_tokens

TOKEN_PATTERN = r'[\s,"]+'
STRIP_PATTERN = r"[^a-z'A-Z0-9À-ÿ ]+"


def assemble_document(
    caption: Column, accessibility: Column, user_full_name: Column, location_name: Column
) -> Column:
    """The reference's document assembly (topics.js:15-27): caption +
    optional accessibility/author/location name, '.'-joined (concat_ws
    skips nulls exactly like the reference's conditional pushes)."""
    return F.concat_ws(
        ".",
        caption,
        accessibility,
        user_full_name,
        F.when(location_name.isNotNull(), F.concat(location_name, F.lit("."))),
    )


def normalized_tokens(text: Column) -> Column:
    """F3+F5: split on whitespace/comma/quote, lowercase, strip chars the
    reference strips; empty tokens removed."""
    toks = F.split(text, TOKEN_PATTERN)
    cleaned = F.transform(toks, lambda t: F.regexp_replace(F.lower(t), STRIP_PATTERN, ""))
    return F.filter(cleaned, lambda t: F.length(t) > 0)


def _strip_first_apostrophe(t: Column) -> Column:
    """JS ``w.replace("'", '')`` removes only the FIRST apostrophe
    (lda/index.js:40). The ^-anchored pattern can match at most once, so
    regexp_replace (replace-all semantics) still strips exactly one; the
    ``contains`` guard keeps the regex engine off the hot path — almost
    no token carries an apostrophe."""
    return F.when(
        t.contains("'"), F.regexp_replace(t, r"^([^']*)'", r"$1")
    ).otherwise(t)


# pre-converted literal Columns per (SparkContext, langs): ``isin`` with
# N python strings pays N py4j lit() round-trips PER CALL (~0.35 s for
# the 652-word EN list — it dominated the top-terms queries' driver-side
# build time, 2× per call for the dual raw+stem check); with pre-built
# Column literals the same isin is one bulk call (~0.07 s). Keyed by
# (applicationId, startTime) — stable identifiers of the live context —
# so a session restart can't serve stale JVM refs, and CPython id()
# reuse after a context is garbage-collected can't alias two contexts.
_STOP_LITS: dict[tuple, list[Column]] = {}


def _per_context(cache: dict, key: tuple, build):
    """``cache[(live context, *key)]``, calling ``build()`` on a miss.
    A miss first drops the entries of every other context (their JVM
    refs are dead). With no live context nothing is cached or evicted:
    ``build()`` runs as is (a Column build then raises)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    ctx_key = (sc.applicationId, sc.startTime)
    hit = cache.get((ctx_key, *key))
    if hit is None:
        for stale in [k for k in cache if k[0] != ctx_key]:
            del cache[stale]
        hit = cache[(ctx_key, *key)] = build()
    return hit


def _stop_literals(langs: tuple[str, ...]) -> list[Column]:
    return _per_context(
        _STOP_LITS,
        (langs,),
        lambda: [F.lit(s) for s in stopwords.combined(langs)],
    )


def drop_stop_tokens(
    tokens: Column,
    langs: tuple[str, ...] = ("es",),
    stems: Column | None = None,
) -> Column:
    """F7: the reference's token drop rule (lda/index.js:40), verbatim —
    drop a token when its RAW form is single-char or http-prefixed, or
    when EITHER its apostrophe-stripped raw form OR its Porter stem is a
    stopword (EN+ES union per O6). Returns the surviving STEMS when
    ``stems`` is given (the vocab is stemmed, lda/index.js:46), else the
    surviving raw tokens.

    ``stems`` must be positionally aligned with ``tokens`` (the shape
    ``stem_tokens`` preserves); zip_with pairs them per element.

    ``isin`` compiles to a hashed InSet — O(1) per token. An
    ``array_contains(lit_array, t)`` formulation rebuilds the ~1400-element
    literal array per element evaluation (~10× slower per doc)."""
    stops = _stop_literals(langs)

    def keep(w: Column, s: Column) -> Column:
        return (
            (F.length(w) > 1)
            & ~w.startswith("http")
            & ~_strip_first_apostrophe(w).isin(*stops)
            & ~s.isin(*stops)
        )

    if stems is None:
        # unstemmed path: the stem check degenerates to the raw token,
        # i.e. strip(t) ∈ S ∨ t ∈ S. When no stopword carries an
        # apostrophe (true for both vendored lists), t ∈ S is subsumed —
        # strip(t) = t for apostrophe-free tokens and an apostrophe-
        # bearing t can never be in S — so ONE InSet suffices. That
        # halves the dominant cost of these plans: Catalyst analysis of
        # a ~1400-literal In expression, paid per query build.
        if any("'" in w for w in stopwords.combined(langs)):
            return F.filter(tokens, lambda t: keep(t, t))
        return raw_keep_tokens(tokens, langs)
    pairs = F.zip_with(
        tokens, stems, lambda w, s: F.struct(w.alias("w"), s.alias("s"))
    )
    return F.transform(
        F.filter(pairs, lambda p: keep(p["w"], p["s"])), lambda p: p["s"]
    )


def raw_keep_tokens(tokens: Column, langs: tuple[str, ...] = ("es",)) -> Column:
    """The RAW-form half of the dual drop rule (lda/index.js:40): keep a
    token iff it is multi-char, not http-prefixed, and its
    apostrophe-stripped form is not a stopword. A token failing any raw
    check is dropped regardless of its stem, so applying this BEFORE the
    stemmer UDF is semantics-preserving — and only survivors pay Arrow
    serialization + Porter stemming (typically <50% of tokens in
    stopword-heavy social text)."""
    stops = _stop_literals(langs)
    return F.filter(
        tokens,
        lambda w: (F.length(w) > 1)
        & ~w.startswith("http")
        & ~_strip_first_apostrophe(w).isin(*stops),
    )


def drop_stop_stems(stems: Column, langs: tuple[str, ...] = ("es",)) -> Column:
    """The STEM half of the dual drop rule: drop stems that are
    stopwords. Composed after ``raw_keep_tokens`` + ``stem_tokens`` this
    equals ``drop_stop_tokens(raw, stems=...)`` exactly (both filters
    preserve order; keep = raw-pass AND stem-pass factorizes)."""
    stops = _stop_literals(langs)
    return F.filter(stems, lambda s: ~s.isin(*stops))


def stop_drop_sql_predicate(var: str = "t", langs: tuple[str, ...] = ("en",)) -> str:
    """DuckDB mirror of ``drop_stop_tokens``'s unstemmed keep-predicate,
    generated from the same stopword constant so Spark and the oracle can
    never drift. ``var`` is the lambda variable of the enclosing
    list_filter. DuckDB regexp_replace is first-match without the 'g'
    flag, but the ^-anchored pattern is used anyway to mirror the Spark
    expression textually."""
    stops = ", ".join(
        "'" + w.replace("'", "''") + "'" for w in stopwords.combined(langs)
    )
    strip = (
        f"CASE WHEN contains({var}, '''') "
        f"THEN regexp_replace({var}, '^([^'']*)''', '\\1') ELSE {var} END"
    )
    return (
        f"length({var}) > 1 AND {var} NOT LIKE 'http%' "
        f"AND {strip} NOT IN ({stops}) "
        f"AND {var} NOT IN ({stops})"
    )


def top_terms_col(terms: Column, k: int = 7, min_pct: float = 2.0) -> Column:
    """Per-row top-k terms by frequency as
    ``array<struct<confidence: double, name: string>>`` — confidence is
    the term's share of the doc ×100 (mirrors φ×100, topics.js:42), drop
    <min_pct (lda/index.js:85-86), ties broken by term text.

    Implemented entirely with array higher-order functions: distinct →
    per-term count → sort (neg-count, name) → slice k → normalize.
    Per-row expression: zero shuffle at any scale."""
    counted = F.transform(
        F.array_distinct(terms),
        lambda t: F.struct(
            (-F.size(F.filter(terms, lambda x: x == t))).alias("neg"),
            t.alias("name"),
        ),
    )
    top = F.slice(F.sort_array(counted), 1, k)
    total = F.size(terms)
    scored = F.transform(
        top,
        lambda s: F.struct(
            F.round(-s["neg"] / total * 100, 2).alias("confidence"),
            s["name"].alias("name"),
        ),
    )
    out = F.filter(scored, lambda s: s["confidence"] >= min_pct)
    return F.when(total > 0, out).otherwise(F.array().cast(
        "array<struct<confidence: double, name: string>>"
    ))


# pre-built pipeline Columns per (SparkContext, langs, k, min_pct,
# stem): building attach_topics' column set costs ~0.7-0.9 s of pure
# py4j round-trips PER CALL even with the stopword literals cached
# (measured r20: analysis of the built plan is ~2 ms — the cost is
# Column CONSTRUCTION, dominated by the two 1400-literal isin calls and
# the nested HOF lambdas). Everything is staged into FIXED column names
# (__raw/__stems/__terms), so for the default text_col the four built
# Columns are a pure function of (langs, k, min_pct, stem) and one
# build can serve every tick. Column objects wrap immutable JVM
# expression trees — reuse across plans is the _STOP_LITS precedent.
# Keyed by the live context like _STOP_LITS so session restarts can't
# serve stale JVM refs (VERDICT r19 task #3a).
_PIPE_COLS: dict[tuple, dict[str, Column]] = {}


def _pipeline_cols(
    langs: tuple[str, ...], k: int, min_pct: float, stem: bool
) -> dict[str, Column]:
    langs = tuple(langs)  # callers may pass a list; the key must hash

    def build() -> dict[str, Column]:
        text_col = assemble_document(
            F.col("caption"),
            F.col("accessibility"),
            F.col("user.full_name"),
            F.col("location.name"),
        )
        cols: dict[str, Column] = {}
        if stem:
            cols["__raw"] = raw_keep_tokens(normalized_tokens(text_col), langs)
            cols["__stems"] = stem_tokens(F.col("__raw"))
            cols["terms"] = drop_stop_stems(F.col("__stems"), langs)
        else:
            cols["__raw"] = normalized_tokens(text_col)
            cols["terms"] = drop_stop_tokens(F.col("__raw"), langs)
        cols["top"] = top_terms_col(F.col("__terms"), k, min_pct)
        return cols

    return _per_context(_PIPE_COLS, (langs, k, min_pct, stem), build)


def attach_topics(
    df: DataFrame,
    text_col: Column | None = None,
    out_col: str = "topics",
    k: int = 7,
    min_pct: float = 2.0,
    langs: tuple[str, ...] = ("es",),
    stem: bool = True,
) -> DataFrame:
    """Full getTopics parity over a posts frame: assemble → normalize →
    (stem) → stop-drop → top-k. ``stem=False`` keeps everything JVM-side
    (no UDF) for oracle-checkable flows."""
    if text_col is None:
        # default document assembly: the whole staged column set is
        # cached per (context, langs, k, min_pct, stem) — see
        # _pipeline_cols (saves ~0.8 s of driver time per tick)
        cols = _pipeline_cols(langs, k, min_pct, stem)
        df = df.withColumn("__raw", cols["__raw"])
        if stem:
            df = df.withColumn("__stems", cols["__stems"])
        df = df.withColumn("__terms", cols["terms"])
        return df.withColumn(out_col, cols["top"]).drop(
            "__raw", "__stems", "__terms"
        )
    if stem:
        # dual raw+stem stopword test (lda/index.js:40), factorized: raw
        # failures are dropped BEFORE the stemmer pandas_udf so only
        # survivors pay Arrow + Porter; the stem half runs on the output.
        # Both arrays are staged as real columns so no subtree re-evaluates.
        df = df.withColumn("__raw", raw_keep_tokens(normalized_tokens(text_col), langs))
        df = df.withColumn("__stems", stem_tokens(F.col("__raw")))
        terms = drop_stop_stems(F.col("__stems"), langs)
    else:
        df = df.withColumn("__raw", normalized_tokens(text_col))
        terms = drop_stop_tokens(F.col("__raw"), langs)
    # stage the filtered terms as a real column: top_terms_col scans the
    # term array once per distinct term, so the input must be a cheap
    # attribute reference, not a filter expression re-run each scan
    df = df.withColumn("__terms", terms)
    return (
        df.withColumn(out_col, top_terms_col(F.col("__terms"), k, min_pct))
        .drop("__raw", "__stems", "__terms")
    )


def corpus_topics(
    df: DataFrame,
    text_col: str,
    k: int = 5,
    max_terms_per_topic: int = 7,
    vocab_size: int = 1 << 16,
    seed: int = 42,
    langs: tuple[str, ...] = ("es",),
    optimizer: str = "online",
    stem: bool = True,
):
    """Corpus-level LDA (A2/A3/A4): CountVectorizer → ml.LDA(seed) →
    topics as (topic, terms array<struct<confidence,name>>).

    ``stem=True`` (default) matches the reference's vocabulary exactly —
    the Gibbs sampler runs over Porter STEMS with the dual raw+stem
    stopword drop (lda/index.js:39-46); ``stem=False`` keeps the whole
    prep JVM-side (no UDF) for oracle-checkable flows.

    Returns (topics_df, doc_topics_df): per-topic top terms and per-doc
    topic distribution. Online variational LDA — one pass per iteration,
    shuffle only on the CountVectorizer vocab aggregation; scales where
    per-doc Gibbs (lda/index.js:163-202) cannot."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    if stem:
        prepared = (
            df.withColumn(
                "__raw", raw_keep_tokens(normalized_tokens(F.col(text_col)), langs)
            )
            .withColumn("__stems", stem_tokens(F.col("__raw")))
            .withColumn("__terms", drop_stop_stems(F.col("__stems"), langs))
            .drop("__raw", "__stems")
        )
    else:
        prepared = df.withColumn(
            "__terms",
            drop_stop_tokens(normalized_tokens(F.col(text_col)), langs),
        )
    cv = CountVectorizer(inputCol="__terms", outputCol="__features", vocabSize=vocab_size)
    cv_model = cv.fit(prepared)
    vectorized = cv_model.transform(prepared)
    # 'online' scales (one subsampled pass/iter); 'em' is deterministic
    # for a fixed input partitioning — use it when reproducibility matters
    # more than wall-clock (seeded-determinism test, golden runs)
    lda = LDA(k=k, seed=seed, featuresCol="__features", optimizer=optimizer)
    model = lda.fit(vectorized)

    vocab = cv_model.vocabulary
    spark = df.sparkSession
    vocab_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(vocab)], "term_idx int, term string"
    )
    topics = (
        model.describeTopics(max_terms_per_topic)
        .select(
            "topic",
            F.explode(F.arrays_zip("termIndices", "termWeights")).alias("tw"),
        )
        .select(
            "topic",
            F.col("tw.termIndices").alias("term_idx"),
            F.col("tw.termWeights").alias("weight"),
        )
        .join(F.broadcast(vocab_df), "term_idx")
        .groupBy("topic")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.round(F.col("weight") * 100, 2).alias("confidence"),
                        F.col("term").alias("name"),
                    )
                ),
                asc=False,
            ).alias("terms")
        )
        .orderBy("topic")
    )
    doc_topics = model.transform(vectorized).drop("__terms", "__features")
    return topics, doc_topics
