"""Document text-analysis and dedup-family queries: token stats, language mix,
quality, BPE, fingerprints, MinHash/SimHash near-dup, exact/ngram-
Jaccard dedup, duplicate-cluster reps, BM25, and heavy hitters, each
with its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.functions import text as T
from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.queries import _t, query
from etl_instagram_spark.plans.q_shared import (
    SQL_TOKS,
    _CC_ORACLE_ROUNDS,
    _spread,
    _sql_cc_rounds,
    _sql_detect_language,
    oracle_parquet,
)


# ---------------------------------------------------------------------------
# documents: token stats
# ---------------------------------------------------------------------------


@query("docs_token_stats")
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token/char statistics (training-data profiling).
    Single scan → partial agg; 20 groups."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    n_tok = T.token_count(F.col("text"))
    n_bpe = T.bpe_token_count(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(n_tok), 4).alias("avg_tokens"),
            F.max(n_tok).alias("max_tokens"),
            F.round(F.avg(n_bpe), 4).alias("avg_bpe_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("source")
    )


oracle(
    "docs_token_stats",
    f"""
    SELECT source,
           count(*) AS n_docs,
           round(avg(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len({SQL_TOKS}) END), 4) AS avg_tokens,
           max(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({SQL_TOKS}) END)           AS max_tokens,
           round(avg({T.bpe_token_count_sql("text")}), 4) AS avg_bpe_tokens,
           round(avg(n_chars), 2)                       AS avg_chars
    FROM documents GROUP BY source ORDER BY source
    """,
)


# ---------------------------------------------------------------------------
# documents: language identification
# ---------------------------------------------------------------------------


@query("docs_language_mix")
def docs_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labelled-vs-detected language confusion counts (n-gram-heuristic
    language ID over marker stopwords)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return (
        docs.withColumn("detected", T.detect_language(F.col("text")))
        .groupBy("lang", "detected")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "detected")
    )


oracle(
    "docs_language_mix",
    f"""
    WITH t AS (SELECT lang, {SQL_TOKS} AS toks FROM documents)
    SELECT lang, {_sql_detect_language()} AS detected, count(*) AS n_docs
    FROM t GROUP BY lang, detected ORDER BY lang, detected
    """,
)


# ---------------------------------------------------------------------------
# documents: quality score bands
# ---------------------------------------------------------------------------


@query("docs_quality_bands", gate=False)
def docs_quality_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter profile: docs per score band (the distribution a
    training-data filter thresholds against)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    q = T.quality_score(F.col("text"))
    band = (
        F.when(q < 0.25, "q0_low")
        .when(q < 0.5, "q1_midlow")
        .when(q < 0.75, "q2_midhigh")
        .otherwise("q3_high")
    )
    return (
        docs.select(band.alias("band"), q.alias("q"))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            # q is a 4dp-rounded score: exact DECIMAL sum so the mean's
            # 4dp re-round can't sit on a summation-order tie
            F.round(
                F.sum(F.col("q").cast("decimal(14,4)")).cast("double") / F.count("*"),
                4,
            ).alias("avg_score"),
        )
        .orderBy("band")
    )


_SQL_EN_MARKERS = ", ".join(f"'{w}'" for w in T.LANG_MARKERS["en"])
_SQL_QUALITY = f"""
round(
  (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END) * 0.4
  + least((CASE WHEN length(trim(text)) = 0 THEN 0.0
           ELSE len(list_filter(toks, t -> t IN ({_SQL_EN_MARKERS})))::DOUBLE
                / len(toks) END) * 4.0, 1.0) * 0.4
  + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                       / length(text) END) * 10.0, 1.0)) * 0.2,
  4)
"""

oracle(
    "docs_quality_bands",
    f"""
    WITH t AS (SELECT text, {SQL_TOKS} AS toks FROM documents),
         s AS (SELECT {_SQL_QUALITY} AS q FROM t)
    SELECT CASE WHEN q < 0.25 THEN 'q0_low'
                WHEN q < 0.5  THEN 'q1_midlow'
                WHEN q < 0.75 THEN 'q2_midhigh'
                ELSE 'q3_high' END AS band,
           count(*) AS n_docs,
           round(CAST(sum(CAST(q AS DECIMAL(14,4))) AS DOUBLE) / count(*), 4)
             AS avg_score
    FROM s GROUP BY band ORDER BY band
    """,
)


_BPE_N_MERGES = 24
_BPE_MAX_WORDS = 65536


@query("docs_bpe_tokens")
def docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the corpus, then count learned-subword
    tokens per source — tokenizer TRAINING as a gated pipeline stage.

    The distributed part is exactly what must be distributed at 100 TB:
    one explode+count pass for the word-frequency table (map-side
    combined) and one Arrow-batched encode pass with the learned merges
    (per-word memoized, operators/tokenizer.py). The merge loop itself
    runs on the driver over the bounded frequency table — the shape
    every real subword trainer uses. Deterministic end to end
    (sort-before-cap collection, smallest-pair tie-break), so the oracle
    re-learns identical merges from DuckDB's word counts and replays the
    encode as an inlined word→token-count map: any cross-engine drift in
    splitting, counting, ordering, or the merge loop breaks the hash."""
    from etl_instagram_spark.operators.tokenizer import bpe_token_count, fit_bpe

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    merges = fit_bpe(
        docs, "text", n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )
    return (
        docs.select("source", bpe_token_count("text", merges).alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("bpe_tokens"),
            F.round(F.sum("nt") / F.count(F.lit(1)), 4).alias("avg_bpe_per_doc"),
        )
        .orderBy("source")
    )


def _bpe_fit_word_map() -> tuple[str, str]:
    """Shared oracle scaffolding: re-learn the gate's BPE merges from
    DuckDB's word counts (same ordered/capped table, same pure loop) and
    return ``(split_expr, wm_values)`` — the word-splitting SQL and the
    inline word→token-count VALUES list every BPE mirror joins against.
    Asserts the cap covered the full distinct-word inventory (true at
    gate scale by construction)."""
    import duckdb

    from etl_instagram_spark.operators.tokenizer import (
        WORD_SPLIT_REGEX,
        bpe_apply,
        learn_bpe,
    )

    path = oracle_parquet("documents")
    con = duckdb.connect()
    split = f"string_split_regex(lower(text), '{WORD_SPLIT_REGEX}')"
    freqs = con.sql(
        f"""
        SELECT w AS word, count(*) AS freq
        FROM (SELECT unnest({split}) AS w FROM '{path}' WHERE text IS NOT NULL)
        WHERE w <> ''
        GROUP BY w ORDER BY freq DESC, word ASC LIMIT {_BPE_MAX_WORDS}
        """
    ).fetchall()
    words = [w for w, _ in freqs]
    n_distinct = con.sql(
        f"SELECT count(DISTINCT w) FROM (SELECT unnest({split}) AS w "
        f"FROM '{path}' WHERE text IS NOT NULL) WHERE w <> ''"
    ).fetchone()[0]
    con.close()
    if n_distinct > len(words):
        raise AssertionError(
            f"oracle word map incomplete: {n_distinct} distinct words > cap"
        )
    merges = learn_bpe([(w, int(f)) for w, f in freqs], _BPE_N_MERGES)
    wm = ", ".join(
        "('{}', {})".format(w.replace("'", "''"), len(bpe_apply(w, merges)))
        for w in sorted(words)
    )
    return split, wm


def _bpe_oracle_sql() -> str:
    """DuckDB mirror of docs_bpe_tokens (lazy — its literals are LEARNED
    from the gate data): count words in DuckDB with the same explicit
    whitespace class, feed the same ordered/capped frequency table
    through the same ``learn_bpe`` loop, then inline the resulting
    word→token-count map (every distinct corpus word through
    ``bpe_apply``) as a VALUES join."""
    split, wm = _bpe_fit_word_map()
    return f"""
    WITH wm(word, nt) AS (VALUES {wm}),
    doc_words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest({split}) AS w
        FROM documents WHERE text IS NOT NULL)
      WHERE w <> ''),
    per_doc AS (
      SELECT d.doc_id, d.source, coalesce(sum(wm.nt), 0) AS nt
      FROM documents d
      LEFT JOIN doc_words x ON d.doc_id = x.doc_id
      LEFT JOIN wm ON x.w = wm.word
      GROUP BY d.doc_id, d.source)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS bpe_tokens,
           round(CAST(sum(nt) AS BIGINT) / count(*), 4) AS avg_bpe_per_doc
    FROM per_doc GROUP BY source ORDER BY source
    """


oracle("docs_bpe_tokens", _bpe_oracle_sql)


# ---------------------------------------------------------------------------
# documents: rolling-hash fingerprint profile
# ---------------------------------------------------------------------------


@query("docs_fingerprint_profile")
def docs_fingerprint_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint distribution: docs per fp%16 bucket +
    distinct fingerprints (dup fingerprints ⇒ near-identical docs)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # stage fp once — referencing the expression twice (bucket + value)
    # would run the md5-per-shingle pipeline twice per row
    staged = docs.withColumn("fp", T.rolling_fingerprint(F.col("text")))
    fp = F.col("fp")
    return (
        staged.select((fp % 16).alias("fp_bucket"), fp.alias("fp"))
        .groupBy("fp_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(F.col("fp")).alias("n_distinct_fp"),
        )
        .orderBy("fp_bucket")
    )


oracle(
    "docs_fingerprint_profile",
    f"""
    WITH s AS (
      SELECT list_min(list_transform(
               [substr(text, i, 8)
                for i in range(1, greatest(length(text) - 7, 1) + 1)],
               s -> {T.hash32_sql('s')})) AS fp
      FROM documents)
    SELECT fp % 16 AS fp_bucket,
           count(*) AS n_docs,
           count(DISTINCT fp) AS n_distinct_fp
    FROM s GROUP BY fp_bucket ORDER BY fp_bucket
    """,
)


# ---------------------------------------------------------------------------
# documents: exact dedup by content hash
# ---------------------------------------------------------------------------


@query("docs_exact_dedup")
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate audit per source: docs vs distinct content hashes.
    The hash-groupBy IS the dedup plan at 100 TB — one shuffle on a
    32-byte key, AQE handles skewed dup clusters."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return (
        docs.select("source", F.md5(F.col("text")).alias("h"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(F.col("h")).alias("n_unique"),
            (F.count("*") - F.count_distinct(F.col("h"))).alias("n_dup_rows"),
        )
        .orderBy("source")
    )


oracle(
    "docs_exact_dedup",
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           count(*) - count(DISTINCT md5(text)) AS n_dup_rows
    FROM documents GROUP BY source ORDER BY source
    """,
)


# ---------------------------------------------------------------------------
# documents: MinHash-LSH banding profile
# ---------------------------------------------------------------------------

MINHASH_K = 8
MINHASH_BANDS = 4  # rows-per-band = 2
# band hashes on BOTH sides come from the same generators in
# operators/dedup.py (_band_hashes / band_hash_sql), so the pack formula
# (exact 2^31 digit pack at rows≤2, modular fold above) cannot drift
# between Spark, the oracle, and the dedup operators themselves


def _sql_minhash_sig() -> str:
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * (h % {T.HASH_PRIME}) + {b}) % {T.HASH_PRIME}))"
        for a, b in T.minhash_coefficients(MINHASH_K)
    )
    return f"[{perms}]"


def _sql_band_hashes() -> str:
    from etl_instagram_spark.operators.dedup import band_hash_sql

    return band_hash_sql("sig", MINHASH_K, MINHASH_BANDS)


def _sql_minhash_bands() -> str:
    """The docs_minhash_bands oracle (extras_docs.py), kept here next to
    the fragment generators it shares with docs_near_dedup_summary."""
    return f"""
    WITH t AS (SELECT trim(lower(text)) AS norm, {SQL_TOKS} AS toks FROM documents),
         s AS (SELECT CASE WHEN len(toks) < 3 THEN [norm]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in range(1, len(toks) - 1)] END AS sh
               FROM t),
         h AS (SELECT list_transform(sh, s -> {T.hash32_sql('s')}) AS hs FROM s),
         sig AS (SELECT {_sql_minhash_sig()} AS sig FROM h),
         bh AS (SELECT {_sql_band_hashes()} AS bh FROM sig),
         bands AS (SELECT u.j AS band_idx, bh[u.j + 1] AS band_hash
                   FROM bh CROSS JOIN (SELECT unnest(range({MINHASH_BANDS})) AS j) u),
         buckets AS (SELECT band_idx, band_hash, count(*) AS n
                     FROM bands GROUP BY band_idx, band_hash)
    SELECT band_idx,
           count(*) AS n_buckets,
           max(n) AS max_bucket,
           CAST(sum(n * (n - 1) / 2) AS BIGINT) AS n_candidate_pairs
    FROM buckets GROUP BY band_idx ORDER BY band_idx
    """


# ---------------------------------------------------------------------------
# documents: top terms per language (the unstemmed topics path, F3/F5/F7)
# ---------------------------------------------------------------------------


@query("docs_top_terms_by_lang")
def docs_top_terms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: normalize → stopword/short/url drop →
    explode → count per (lang, term) → top-5 per lang (window rank, ties
    by term). The oracle-checkable core of the topics kernel (stemming
    excluded — Porter has no SQL mirror; it is golden-tested instead)."""
    from pyspark.sql import Window

    from etl_instagram_spark.enrich.topics import drop_stop_tokens, normalized_tokens

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    terms = docs.select(
        "lang",
        F.explode(drop_stop_tokens(normalized_tokens(F.col("text")), langs=("en",))).alias("term"),
    )
    counts = terms.groupBy("lang", "term").agg(F.count("*").alias("n_occurrences"))
    w = Window.partitionBy("lang").orderBy(F.col("n_occurrences").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("lang", "rank")
    )


def _sql_stop_drop_predicate() -> str:
    """The keep-predicate for token filtering, generated from the same
    stopword constants + drop rule as the Spark side (enrich/topics.py)."""
    from etl_instagram_spark.enrich.topics import stop_drop_sql_predicate

    return stop_drop_sql_predicate("t", langs=("en",))


oracle(
    "docs_top_terms_by_lang",
    f"""
    WITH toks AS (
      SELECT lang,
             list_filter(
               list_transform(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r,"]+'),
                              x -> regexp_replace(lower(x), '[^a-z''A-Z0-9À-ÿ ]+', '', 'g')),
               t -> {_sql_stop_drop_predicate()}) AS terms
      FROM documents),
    flat AS (SELECT lang, unnest(terms) AS term FROM toks),
    counts AS (SELECT lang, term, count(*) AS n_occurrences
               FROM flat GROUP BY lang, term),
    ranked AS (SELECT lang, term, n_occurrences,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY n_occurrences DESC, term) AS rank
               FROM counts)
    SELECT lang, term, n_occurrences, rank
    FROM ranked WHERE rank <= 5 ORDER BY lang, rank
    """,
)


# ---------------------------------------------------------------------------
# documents: BM25 ranked retrieval (operators/retrieval.py)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "vector", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


@query("docs_bm25_topk")
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/retrieval.bm25_topk: top-10 docs for a 3-term query at
    the standard (k1=1.2, b=0.75). The oracle replays the IDENTICAL
    fixed-order floating arithmetic (idf·tf·(k1+1)/denom per term,
    summed in query order), so ranks AND 6-place scores value-check —
    tf columns included to pin the per-term counts, not just the sum."""
    from etl_instagram_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "doc_id", "text", _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B
    )


def _sql_bm25_topk() -> str:
    k1, b = _BM25_K1, _BM25_B
    tf_defs = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_aggs = ",\n             ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    # literal-for-literal the Spark expression: ((idf * tf) * (k1+1)) /
    # (tf + k1 * ((1-b) + ((b * dl) / avgdl))), summed left-to-right
    terms = " + ".join(
        f"""CASE WHEN tf_{i} > 0 AND avgdl > 0
             THEN ln(1.0 + (n_docs - CAST(df_{i} AS DOUBLE) + 0.5)
                           / (CAST(df_{i} AS DOUBLE) + 0.5))
                  * tf_{i} * {k1 + 1.0}
                  / (tf_{i} + {k1} * ({1.0 - b} + {b} * dl / avgdl))
             ELSE 0.0 END"""
        for i in range(len(_BM25_TERMS))
    )
    tf_cols = ", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))
    return f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0 ELSE len({SQL_TOKS}) END AS dl,
             {tf_defs}
      FROM (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents)),
    s AS (
      SELECT count(*) AS n_docs,
             coalesce(avg(CAST(dl AS DOUBLE)), 0.0) AS avgdl,
             {df_aggs}
      FROM t),
    sc AS (
      SELECT doc_id, round(0.0 + {terms}, 6) AS score, {tf_cols}
      FROM t CROSS JOIN s)
    SELECT doc_id, score, {tf_cols}
    FROM sc WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT 10
    """


oracle("docs_bm25_topk", _sql_bm25_topk())


@query("docs_bm25_indexed")
def docs_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MANY-QUERIES inverted-index BM25 face (operators/retrieval.
    build_bm25_index + bm25_topk_indexed). Same terms,
    same k as the scan-path docs_bm25_topk, and by the fixed-order
    score fold the EXACT same rows and 6-dp scores — so the oracle IS
    the scan path's SQL replay: one cross-engine statement certifies
    both faces agree with each other and with DuckDB. Scale: query
    cost is O(postings of the query terms) — with term-partitioned
    storage, partition pruning — never a corpus scan (pushdown pinned
    by test for both the batch-written and the continuously-maintained
    postings)."""
    from etl_instagram_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_bm25_index,
    )

    docs = _t(spark, sf_dir, "documents")
    postings, corpus = build_bm25_index(docs, "doc_id", "text")
    return bm25_topk_indexed(
        postings, corpus, "doc_id", _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B
    )


oracle("docs_bm25_indexed", _sql_bm25_topk)


# ---------------------------------------------------------------------------
# documents: the FULL near-dedup operator, end-to-end against the oracle
# ---------------------------------------------------------------------------


@query("docs_near_dedup_summary")
def docs_near_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.near_dedup_minhash run whole: LSH candidates →
    exact shingle-Jaccard verify (≥0.5) → drop-larger-id survivors. The
    oracle replays every stage in SQL, so this is an end-to-end gate on
    the dedup operator, not just its kernels.

    Single action: the drop set joins back to the docs scan and one
    aggregate produces all three counters (previously two .count()
    actions re-ran the whole pipeline)."""
    from etl_instagram_spark.operators.dedup import near_dedup_losers

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    losers = near_dedup_losers(
        docs, "doc_id", "text", threshold=0.5, k=MINHASH_K, bands=MINHASH_BANDS
    ).withColumn("__dropped", F.lit(1))
    return (
        docs.join(losers, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__dropped").alias("n_dropped"),
        )
        .select(
            "n_docs",
            (F.col("n_docs") - F.col("n_dropped")).alias("n_survivors"),
            "n_dropped",
        )
    )


def _sql_verified_pairs() -> str:
    """WITH-body replaying the MinHash-LSH candidate → exact-Jaccard
    verify pipeline (operators/dedup.verified_duplicate_pairs) at
    threshold 0.5 — the final CTE is ``verified`` (ia, ib with ia < ib).
    Shared by the near-dedup-summary and dup-cluster-reps oracles so the
    two mirrors can never drift."""
    return f"""
    t AS (SELECT doc_id, trim(lower(text)) AS norm, {SQL_TOKS} AS toks
               FROM documents),
         s AS (SELECT doc_id,
                      CASE WHEN len(toks) < 3 THEN [norm]
                           ELSE [array_to_string(toks[i:i+2], ' ')
                                 for i in range(1, len(toks) - 1)] END AS sh
               FROM t),
         h AS (SELECT doc_id,
                      list_transform(sh, s -> {T.hash32_sql('s')}) AS hs,
                      list_distinct(sh) AS dsh
               FROM s),
         sig AS (SELECT doc_id, dsh, {_sql_minhash_sig()} AS sig FROM h),
         bharr AS (SELECT doc_id, {_sql_band_hashes()} AS bh FROM sig),
         bands AS (SELECT doc_id, u.j AS band_idx, bh[u.j + 1] AS bh
                   FROM bharr CROSS JOIN (SELECT unnest(range({MINHASH_BANDS})) AS j) u),
         pairs AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                   FROM bands a JOIN bands b
                     ON a.band_idx = b.band_idx AND a.bh = b.bh
                        AND a.doc_id < b.doc_id),
         verified AS (SELECT ia, ib
                      FROM pairs
                      JOIN sig sa ON sa.doc_id = ia
                      JOIN sig sb ON sb.doc_id = ib
                      WHERE len(list_intersect(sa.dsh, sb.dsh))::DOUBLE
                            / len(list_distinct(sa.dsh || sb.dsh)) >= 0.5)"""


oracle(
    "docs_near_dedup_summary",
    f"""
    WITH {_sql_verified_pairs()},
         losers AS (SELECT DISTINCT ib FROM verified)
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM documents) - (SELECT count(*) FROM losers) AS n_survivors,
           (SELECT count(*) FROM losers) AS n_dropped
    """,
)


# ---------------------------------------------------------------------------
# documents: simhash values (oracle mirrors the bit-vote construction)
# ---------------------------------------------------------------------------


def _sql_simhash32(hs_expr: str) -> str:
    """32-bit SimHash in SQL: bit j set iff Σ_tokens ((h>>j)&1)*2-1 > 0.
    Generated per-bit from the same definition as text._simhash32_from."""
    bits = [
        f"(CASE WHEN list_sum(list_transform({hs_expr}, "
        f"h -> ((h >> {j}) & 1) * 2 - 1)) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(32)
    ]
    return "(" + " + ".join(bits) + ")"


@query("docs_simhash", gate=False)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash values for the first 100 docs — near-identical docs differ
    in few bits (docs_minhash_bands' sibling signal; pairing strategy
    lives in operators/dedup.simhash_candidates). Per-row expression,
    zero shuffle."""
    docs = _spread(spark, _t(spark, sf_dir, "documents")).filter(F.col("doc_id") < 100)
    staged = docs.withColumn("sim", T.simhash(F.col("text")))
    return staged.select(
        "doc_id",
        F.element_at("sim", 1).alias("sim_lo"),
        F.element_at("sim", 2).alias("sim_hi"),
    ).orderBy("doc_id")


oracle(
    "docs_simhash",
    f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks
               FROM documents WHERE doc_id < 100),
         h AS (SELECT doc_id,
                      list_transform(toks, x -> {T.hash32_sql('x')}) AS lo_h,
                      list_transform(toks, x -> {T.hash32_sql("('s1:' || x)")}) AS hi_h
               FROM t)
    SELECT doc_id,
           {_sql_simhash32('lo_h')} AS sim_lo,
           {_sql_simhash32('hi_h')} AS sim_hi
    FROM h ORDER BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# documents: exact heavy hitters (bounded-memory frequent terms)
# ---------------------------------------------------------------------------

# support = 1/100 as an exact rational; the threshold predicate is pure
# integer arithmetic (count*den >= n*num) on BOTH engines, so there is no
# float/ceil surface to drift
_HH_NUM, _HH_DEN = 1, 100


@query("docs_heavy_hitters")
def docs_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/frequency.heavy_hitters over the corpus token stream:
    terms at ≥1 % of all tokens, with EXACT counts, computed without
    ever group-by-shuffling the full term domain (two-pass Misra-Gries:
    bounded per-partition candidate summaries, then an exact verify of
    the broadcast candidate set only). The oracle is the plain
    GROUP BY ... HAVING the operator provably equals."""
    from etl_instagram_spark.operators.frequency import heavy_hitters

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    terms = docs.select(F.explode(T.tokens(F.col("text"))).alias("term")).filter(
        F.col("term") != ""
    )
    return heavy_hitters(terms, "term", _HH_NUM, _HH_DEN).orderBy(
        F.desc("n_occ"), "term"
    )


oracle(
    "docs_heavy_hitters",
    f"""
    WITH toks AS (SELECT unnest({SQL_TOKS}) AS term FROM documents),
         t AS (SELECT term FROM toks WHERE term IS NOT NULL AND term <> ''),
         tot AS (SELECT count(*) AS n FROM t)
    SELECT term, count(*) AS n_occ
    FROM t CROSS JOIN tot
    GROUP BY term, tot.n
    HAVING count(*) * {_HH_DEN} >= tot.n * {_HH_NUM}
    ORDER BY n_occ DESC, term
    """,
)


# ---------------------------------------------------------------------------
# documents: exact all-pairs n-gram Jaccard join (prefix-filtered)
# ---------------------------------------------------------------------------


@query("docs_ngram_jaccard", gate=False)
def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.jaccard_join at τ=0.5: every document pair with
    exact 3-gram Jaccard ≥ 0.5, with the similarity value. The Spark side
    runs the prefix-filtered inverted-index join (frequency-ordered
    prefixes, size filter, candidate-only verify); the oracle runs the
    NAIVE all-pairs join — the gate therefore certifies that prefix
    filtering is lossless on real data, not just in the unit tests."""
    from etl_instagram_spark.operators.dedup import jaccard_join

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    pairs = jaccard_join(docs, "doc_id", "text", threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


oracle(
    "docs_ngram_jaccard",
    f"""
    WITH t AS (SELECT doc_id, trim(lower(text)) AS norm, {SQL_TOKS} AS toks
               FROM documents),
         s AS (SELECT doc_id,
                      CASE WHEN len(toks) < 3 THEN [norm]
                           ELSE [array_to_string(toks[i:i+2], ' ')
                                 for i in range(1, len(toks) - 1)] END AS sh
               FROM t),
         d AS (SELECT doc_id, list_distinct(sh) AS dsh FROM s),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          len(list_intersect(a.dsh, b.dsh))::DOUBLE
                            / len(list_distinct(a.dsh || b.dsh)) AS j
                   FROM d a JOIN d b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, round(j, 4) AS jaccard
    FROM pairs WHERE j >= 0.5
    ORDER BY id_a, id_b
    """,
)


@query("docs_dup_cluster_reps")
def docs_dup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS as the deliverable: MinHash-LSH
    candidates → exact-Jaccard verify → connected components
    (operators/dedup.duplicate_clusters) → one canonical representative
    per cluster (longest text, ties to the smallest doc_id — the
    "keep best" curation policy, vs the survivor rule's "keep
    smallest id"). The oracle replays the ENTIRE pipeline in one SQL
    statement, including connected components as _CC_ORACLE_ROUNDS (16)
    monotone min-label rounds — certifying the CC operator cross-engine
    for the first time (previously differential-tested against
    union-find only). Scale: components run O(diameter) key-equi
    rounds over the O(duplicates) verified-pair list, never the corpus;
    the reps window partitions by component (bounded groups)."""
    from pyspark.sql import Window

    from etl_instagram_spark.operators.dedup import duplicate_clusters

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    cl = duplicate_clusters(
        docs, "doc_id", "text", threshold=0.5, k=MINHASH_K, bands=MINHASH_BANDS
    )
    sized = cl.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    reps = (
        sized.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_chars"),
        )
    )
    agg = sized.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("n_chars").alias("total_chars"),
    )
    return (
        agg.join(reps, "component")
        .select(
            "component",
            "cluster_size",
            "rep_doc_id",
            "rep_chars",
            "total_chars",
        )
        .orderBy(F.col("cluster_size").desc(), "component")
    )


oracle(
    "docs_dup_cluster_reps",
    f"""
    WITH {_sql_verified_pairs()},
    {_sql_cc_rounds(_CC_ORACLE_ROUNDS)},
    sized AS (SELECT l.id AS doc_id, l.component, d.n_chars
              FROM lcc l
              JOIN documents d ON d.doc_id = l.id),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY component
                          ORDER BY n_chars DESC, doc_id) AS rn
               FROM sized),
    agg AS (SELECT component, count(*) AS cluster_size,
                   (sum(n_chars))::BIGINT AS total_chars
            FROM sized GROUP BY component)
    SELECT a.component, a.cluster_size,
           r.doc_id AS rep_doc_id, r.n_chars AS rep_chars, a.total_chars
    FROM agg a JOIN ranked r ON r.component = a.component AND r.rn = 1
    ORDER BY a.cluster_size DESC, a.component
    """,
)


# ---------------------------------------------------------------------------
# documents: KMV set-overlap sketches (promoted to the gate r15)
# ---------------------------------------------------------------------------

_KMV_OVERLAP_K = 256


def _docs_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, shingle) rows: word 3-grams on the shared token kernel
    (functions/text.tokens == q_shared.SQL_TOKS). The tokens are staged
    into a COLUMN before the 3-gram transform: inlining the split
    expression into the HOF lambda makes Catalyst re-evaluate the whole
    tokenization per ``element_at`` reference — 3 splits per shingle,
    ~19× slower measured at sf0.1 (values identical either way)."""
    # _spread (r20): the tokenize + 3-gram explode is the query's
    # dominant compute and the local documents scan is ONE row group —
    # without the fan-out the whole pinned shingle pass ran as a single
    # 0.8 s task (profiled; at 100 TB file count provides this for free)
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    staged = docs.select("source", T.tokens(F.col("text")).alias("__ts"))
    ts = F.col("__ts")
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
    return staged.select("source", F.explode(grams).alias("shingle"))


@query("docs_kmv_shingle_overlap")
def docs_kmv_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-overlap sketches (operators/kmv.py) — for
    every unordered pair of sources, the estimated distinct-shingle
    union / Jaccard / intersection from the two k-minimum-value
    synopses, with the EXACT intersection and union as data contrast.
    At sf0.01 every source holds ~1.2–1.5k distinct shingles, so the
    k=256 estimator branch is LIVE (k_used == k, kth_min drives the
    estimate) while pair overlaps (52–143 shingles) keep the contrast
    columns meaningful. The k-sets, integer counts, and every derived
    float replay bit-for-bit in DuckDB (Beyer et al., SIGMOD 2007 —
    the contamination/segment-overlap question HLL registers cannot
    answer). Reference parity: the training-shard-vs-eval-set overlap
    face of the dedup surface (SURVEY §2.12)."""
    from etl_instagram_spark.operators.kmv import kmv_overlap, kmv_sketch

    # pin the shingle frame: it feeds the sketch AND the exact-contrast
    # branches (the jaccard_join multi-consumer discipline) — without
    # this, every downstream action re-runs the tokenize + 3-gram HOF
    # scan, the dominant cost at sf0.1 (one pass ≈ the whole rest of
    # the query)
    sh = _docs_shingles(spark, sf_dir).localCheckpoint(eager=False)
    sk = kmv_sketch(sh, "shingle", ["source"], k=_KMV_OVERLAP_K)
    est = kmv_overlap(sk, "source", k=_KMV_OVERLAP_K)
    d = sh.distinct().localCheckpoint(eager=False)
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("nd"))
    inter = (
        d.alias("x")
        .join(
            d.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("g_a"), F.col("y.source").alias("g_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    pa = per.select(F.col("source").alias("g_a"), F.col("nd").alias("nd_a"))
    pb = per.select(F.col("source").alias("g_b"), F.col("nd").alias("nd_b"))
    return (
        est.join(inter, ["g_a", "g_b"], "left")
        .join(pa, "g_a")
        .join(pb, "g_b")
        .select(
            "g_a",
            "g_b",
            "k_used",
            "kth_min",
            "matches",
            "union_est",
            "jaccard_est",
            "intersection_est",
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("long")
            .alias("exact_intersection"),
            (F.col("nd_a") + F.col("nd_b") - F.coalesce(
                F.col("exact_intersection"), F.lit(0)
            ))
            .cast("long")
            .alias("exact_union"),
        )
        .orderBy("g_a", "g_b")
    )


def _sql_docs_kmv_shingle_overlap() -> str:
    from etl_instagram_spark.operators.kmv import kmv_overlap_sql

    shingles = f"""(
      SELECT source, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM (SELECT source, {SQL_TOKS} AS ts FROM documents) tt,
           unnest(range(1, len(ts) - 1)) AS u(i)) sh"""
    est = kmv_overlap_sql("shingle", shingles, "source", k=_KMV_OVERLAP_K)
    return f"""
    WITH est AS ({est}),
    d AS (SELECT DISTINCT source, shingle FROM {shingles}),
    per AS (SELECT source, count(*)::BIGINT AS nd FROM d GROUP BY source),
    inter AS (
      SELECT x.source AS g_a, y.source AS g_b,
             count(*)::BIGINT AS exact_intersection
      FROM d x JOIN d y
        ON x.shingle = y.shingle AND x.source < y.source
      GROUP BY x.source, y.source)
    SELECT est.g_a, est.g_b, est.k_used, est.kth_min, est.matches,
           est.union_est, est.jaccard_est, est.intersection_est,
           coalesce(i.exact_intersection, 0)::BIGINT AS exact_intersection,
           (pa.nd + pb.nd - coalesce(i.exact_intersection, 0))::BIGINT
             AS exact_union
    FROM est
    LEFT JOIN inter i ON i.g_a = est.g_a AND i.g_b = est.g_b
    JOIN per pa ON pa.source = est.g_a
    JOIN per pb ON pb.source = est.g_b
    ORDER BY est.g_a, est.g_b
    """


# lazy: kmv_overlap_sql assembly stays off the import path
oracle("docs_kmv_shingle_overlap", _sql_docs_kmv_shingle_overlap)


# ---------------------------------------------------------------------------
# weighted priority sampling (operators/kmv.py)
# ---------------------------------------------------------------------------


@query("docs_weighted_sample")
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duffield–Lund–Thorup priority sampling (operators/kmv.
    kmv_weighted_sample), driver-certified: a
    deterministic fixed-SIZE sample of 48 doc_ids per lang drawn with
    probability increasing in n_chars, plus the subset-sum estimator
    column (est_weight = max(w, τ-reciprocal)). Every sf0.01 lang holds
    64–218 docs > k=48, so the THRESHOLD branch is live for all five
    groups (the k+1-th priority exists and the greatest() estimator is
    exercised, not the complete-group identity). No RNG state: the
    priority is one IEEE division of exact integers on the shared md5
    kernel, so ids, hashes, and est floats replay bit-for-bit in DuckDB
    — the weighted complement of docs_kmv_sample (uniform) and
    docs_pps_sample (rate-based), and the estimator semantics the
    sampling family's strongest value contract.

    Scale: one hash + one division per row, a per-group top-(k+1)
    ranked selection (never a global sort), and a 1-row-per-group
    threshold broadcast — the same shape at any corpus size."""
    from etl_instagram_spark.operators.kmv import kmv_weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        kmv_weighted_sample(docs, "doc_id", "n_chars", ["lang"], k=48)
        .orderBy("lang", "doc_id")
    )


def _sql_docs_weighted_sample() -> str:
    from etl_instagram_spark.operators.kmv import kmv_weighted_sample_sql

    inner = kmv_weighted_sample_sql(
        "doc_id", "n_chars", "documents", ["lang"], k=48
    )
    return f"SELECT * FROM ({inner}) ORDER BY lang, doc_id"


# lazy: kmv_weighted_sample_sql assembly stays off the import path
oracle("docs_weighted_sample", _sql_docs_weighted_sample)
