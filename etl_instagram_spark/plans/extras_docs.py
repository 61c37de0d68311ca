"""Documents-table non-gate rows, each registered with ``@query(name,
gate=False)`` beside its body and paired with an ``oracle(name, sql)``
mirror (checked by tests/test_rotated_parity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.q_docs import (
    MINHASH_BANDS,
    MINHASH_K,
    _BM25_TERMS,
    _BPE_MAX_WORDS,
    _BPE_N_MERGES,
    _bpe_fit_word_map,
    _sql_bm25_topk,
    _sql_minhash_bands,
    _sql_stop_drop_predicate,
)
from etl_instagram_spark.plans.q_docs_pipeline import _PACK_SHARDS, _sql_pack_shard
from etl_instagram_spark.plans.q_emb import SQL_KNN_COSINE, emb_knn_cosine
from etl_instagram_spark.plans.q_shared import SQL_TOKS, _spread, oracle_parquet
from etl_instagram_spark.plans.queries import _t, query


def _sql_top_terms_per_doc() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               list_transform(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r,"]+'),
                              x -> regexp_replace(lower(x), '[^a-z''A-Z0-9À-ÿ ]+', '', 'g')),
               t -> {_sql_stop_drop_predicate()}) AS terms
      FROM documents WHERE doc_id < 50),
    flat AS (SELECT doc_id, len(terms) AS total, unnest(terms) AS term FROM toks),
    counts AS (SELECT doc_id, total, term, count(*) AS cnt
               FROM flat GROUP BY doc_id, total, term),
    ranked AS (SELECT doc_id, term, cnt, total,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY cnt DESC, term) AS rank
               FROM counts)
    SELECT doc_id, rank,
           round(cnt * 100.0 / total, 2) AS confidence,
           term AS name
    FROM ranked
    WHERE rank <= 7 AND round(cnt * 100.0 / total, 2) >= 2.0
    ORDER BY doc_id, rank
    """


oracle("docs_top_terms_per_doc", _sql_top_terms_per_doc())


@query("docs_top_terms_per_doc", gate=False)
def docs_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-row top_terms kernel (enrich/topics.top_terms_col — the
    reference's getTopics output shape) validated against the oracle:
    attach topics to the first 50 docs, then posexplode to
    (doc_id, rank, confidence, name) rows that plain SQL can reproduce
    with a window over per-term counts."""
    from etl_instagram_spark.enrich.topics import attach_topics

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    topical = attach_topics(docs, text_col=F.col("text"), stem=False, langs=("en",))
    return (
        topical.select("doc_id", F.posexplode("topics").alias("pos", "t"))
        .select(
            "doc_id",
            (F.col("pos") + 1).alias("rank"),
            F.col("t.confidence").alias("confidence"),
            F.col("t.name").alias("name"),
        )
        .orderBy("doc_id", "rank")
    )


@query("docs_minhash_bands", gate=False)
def docs_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding audit: per band, distinct buckets and candidate
    pairs (Σ n·(n−1)/2 over buckets) — the tuning surface for the verify
    join's cost model (the same signature/band machinery
    docs_near_dedup_summary runs end to end)."""
    from etl_instagram_spark.operators.dedup import _band_hashes
    from etl_instagram_spark.functions import text as T

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    staged = T.with_minhash_signature(docs, "text", "sig", k=MINHASH_K)
    bands = _band_hashes(F.col("sig"), MINHASH_K, MINHASH_BANDS)
    exploded = staged.select(F.posexplode(bands).alias("band_idx", "band_hash"))
    buckets = exploded.groupBy("band_idx", "band_hash").agg(F.count("*").alias("n"))
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_candidate_pairs"),
        )
        .orderBy("band_idx")
    )


oracle("docs_minhash_bands", _sql_minhash_bands())


@query("docs_hybrid_rrf", gate=False)
def _docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, value-checked end-to-end: reciprocal-rank
    fusion of the BM25 top-10 (docs_bm25_topk's list) with the exact
    cosine top-10 for vec_id=0 (emb_knn_cosine's list, doc_id = vec_id
    as in docs_emb_crossmodal). This pins rrf_fuse's rank+fusion
    arithmetic against a full DuckDB replay."""
    from etl_instagram_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    lex = bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=10)
    vec = emb_knn_cosine(spark, sf_dir).withColumnRenamed(
        "vec_id", "doc_id"
    )
    return rrf_fuse(
        [lex, vec],
        "doc_id",
        [
            [F.col("score").desc(), F.col("doc_id")],
            [F.col("cos_sim").desc(), F.col("doc_id")],
        ],
        k=10,
    )


def _sql_hybrid_rrf() -> str:
    return f"""
    WITH lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r0
      FROM ({_sql_bm25_topk()})),
    vec AS (
      SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r1
      FROM ({SQL_KNN_COSINE})),
    f AS (
      SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
             CAST(r0 AS DOUBLE) AS rank_0,
             CAST(r1 AS DOUBLE) AS rank_1,
             round(0.0 + CASE WHEN r0 IS NOT NULL THEN 1.0 / (60.0 + r0) ELSE 0.0 END
                       + CASE WHEN r1 IS NOT NULL THEN 1.0 / (60.0 + r1) ELSE 0.0 END,
                   6) AS rrf_score
      FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
    SELECT doc_id, rank_0, rank_1, rrf_score
    FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


oracle("docs_hybrid_rrf", _sql_hybrid_rrf())


@query("docs_unigram_ppl", gate=False)
def _docs_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal, value-checked end-to-end: fit the
    add-one unigram model on the corpus (one distributed counting pass),
    score every document's bits-per-word relationally (broadcast model
    join — no UDF), roll up per source. The SQL mirror re-fits the model
    from DuckDB's counts through the same pure math and inlines identical
    doubles."""
    from etl_instagram_spark.operators.lm import doc_bits_per_word, fit_unigram_lm

    docs = _t(spark, sf_dir, "documents")
    lm = fit_unigram_lm(docs)
    scored = doc_bits_per_word(docs, lm)
    return (
        docs.select("doc_id", "source")
        .join(scored, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.round(F.avg("bits_per_word"), 4).alias("avg_bits_per_word"),
        )
        .orderBy("source")
    )


def _sql_unigram_ppl() -> str:
    import duckdb

    from etl_instagram_spark.operators.lm import (
        unigram_lm_from_freqs,
        unigram_model_sql_values,
    )
    from etl_instagram_spark.operators.tokenizer import WORD_SPLIT_REGEX

    path = oracle_parquet("documents")
    split = f"string_split_regex(lower(text), '{WORD_SPLIT_REGEX}')"
    con = duckdb.connect()
    freqs = con.sql(
        f"""
        SELECT w AS word, count(*) AS freq
        FROM (SELECT unnest({split}) AS w FROM '{path}' WHERE text IS NOT NULL)
        WHERE w <> ''
        GROUP BY w ORDER BY freq DESC, word ASC LIMIT 65536
        """
    ).fetchall()
    con.close()
    lm = unigram_lm_from_freqs([(w, int(f)) for w, f in freqs])
    return f"""
    WITH m(word, logp) AS (VALUES {unigram_model_sql_values(lm)}),
    dw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest({split}) AS w
        FROM documents WHERE text IS NOT NULL)
      WHERE w <> ''),
    scored AS (
      SELECT dw.doc_id, count(*) AS n_words,
             avg(-coalesce(m.logp, {lm.oov_logp!r})) AS bpw
      FROM dw LEFT JOIN m ON dw.w = m.word GROUP BY dw.doc_id),
    per_doc AS (
      SELECT d.doc_id, d.source, coalesce(s.n_words, 0) AS n_words, s.bpw
      FROM documents d LEFT JOIN scored s USING (doc_id))
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           round(avg(bpw), 4) AS avg_bits_per_word
    FROM per_doc GROUP BY source ORDER BY source
    """


oracle("docs_unigram_ppl", _sql_unigram_ppl)


@query("docs_bigram_ppl", gate=False)
def _docs_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram perplexity per source (the fuller CCNet
    signal): doc-initial words score by unigram, later words by their
    observed bigram relative frequency or the 0.4-discounted unigram
    backoff. Spark shapes it as posexplode → window lag → two broadcast
    joins; the mirror re-derives pairs by list-zipping — different
    plans, same math, same literals."""
    from etl_instagram_spark.operators.lm import (
        doc_bits_per_word_bigram,
        fit_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    blm = fit_bigram_lm(docs)
    scored = doc_bits_per_word_bigram(docs, blm)
    return (
        docs.select("doc_id", "source")
        .join(scored, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.round(F.avg("bits_per_word"), 4).alias("avg_bits_per_word"),
        )
        .orderBy("source")
    )


def _sql_bigram_ppl() -> str:
    import duckdb

    from etl_instagram_spark.operators.lm import (
        bigram_model_sql_values,
        unigram_model_sql_values,
    )
    from etl_instagram_spark.operators.tokenizer import WORD_SPLIT_REGEX

    path = oracle_parquet("documents")
    split = f"string_split_regex(lower(text), '{WORD_SPLIT_REGEX}')"
    # refit BOTH tables from DuckDB counts through the same pure model
    # math the Spark side used (fit_bigram_lm's driver step, re-applied)
    import math as _math

    from etl_instagram_spark.operators.lm import BACKOFF, BigramLM, unigram_lm_from_freqs

    con = duckdb.connect()
    uni_freqs = [
        (w, int(f))
        for w, f in con.sql(
            f"""SELECT w, count(*) FROM (SELECT unnest({split}) AS w
                FROM '{path}' WHERE text IS NOT NULL) WHERE w <> ''
                GROUP BY w ORDER BY count(*) DESC, w ASC LIMIT 65536"""
        ).fetchall()
    ]
    bi_rows = con.sql(
        f"""WITH lsts AS (
              SELECT list_filter({split}, w -> w <> '') AS lst
              FROM '{path}' WHERE text IS NOT NULL)
            SELECT p[1] AS prev, p[2] AS word, count(*) AS freq
            FROM (SELECT unnest(list_zip(lst[1:len(lst)-1], lst[2:len(lst)])) AS p
                  FROM lsts WHERE len(lst) >= 2)
            GROUP BY prev, word
            ORDER BY freq DESC, prev ASC, word ASC LIMIT 262144"""
    ).fetchall()
    con.close()
    uni = unigram_lm_from_freqs(uni_freqs)
    ctx = dict(uni_freqs)
    blm = BigramLM(
        uni,
        [
            (p, w, _math.log2(int(f) / ctx[p]))
            for p, w, f in bi_rows
            if p in ctx
        ],
        _math.log2(BACKOFF),
    )
    return f"""
    WITH m(word, logp) AS (VALUES {unigram_model_sql_values(uni)}),
    bm(prev, word, bi_logp) AS (VALUES {bigram_model_sql_values(blm)}),
    lsts AS (
      SELECT doc_id, list_filter({split}, w -> w <> '') AS lst
      FROM documents WHERE text IS NOT NULL),
    first_scored AS (
      SELECT doc_id, coalesce(m.logp, {uni.oov_logp!r}) AS lp
      FROM (SELECT doc_id, lst[1] AS word FROM lsts WHERE len(lst) >= 1) f
      LEFT JOIN m USING (word)),
    pairs AS (
      SELECT doc_id, p[1] AS prev, p[2] AS word
      FROM (SELECT doc_id,
                   unnest(list_zip(lst[1:len(lst)-1], lst[2:len(lst)])) AS p
            FROM lsts WHERE len(lst) >= 2)),
    pair_scored AS (
      SELECT pairs.doc_id,
             coalesce(bm.bi_logp,
                      {blm.backoff_logp!r} + coalesce(m.logp, {uni.oov_logp!r})) AS lp
      FROM pairs
      LEFT JOIN bm ON pairs.prev = bm.prev AND pairs.word = bm.word
      LEFT JOIN m ON pairs.word = m.word),
    scored AS (
      SELECT doc_id, count(*) AS n_words, avg(-lp) AS bpw
      FROM (SELECT * FROM first_scored UNION ALL SELECT * FROM pair_scored)
      GROUP BY doc_id),
    per_doc AS (
      SELECT d.doc_id, d.source, coalesce(s.n_words, 0) AS n_words, s.bpw
      FROM documents d LEFT JOIN scored s USING (doc_id))
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           round(avg(bpw), 4) AS avg_bits_per_word
    FROM per_doc GROUP BY source ORDER BY source
    """


oracle("docs_bigram_ppl", _sql_bigram_ppl)


_BPE_PACK_BUDGET = 2048


@query("docs_bpe_pack", gate=False)
def _docs_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenize-then-pack pipeline end to end: train BPE on the
    corpus, count LEARNED tokens per doc (not the n_chars proxy), pack
    into token-budget bins, roll up per shard. Certifies the real
    pretraining composition — tokenizer fit → Arrow encode → window
    packing — in one value-checked result."""
    from etl_instagram_spark.operators.packing import pack_cumsum
    from etl_instagram_spark.operators.tokenizer import bpe_token_count, fit_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = fit_bpe(
        docs, "text", n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )
    counts = docs.select(
        "doc_id", bpe_token_count("text", merges).alias("bpe_t")
    )
    packed = pack_cumsum(
        counts, "doc_id", "bpe_t", budget=_BPE_PACK_BUDGET, shards=_PACK_SHARDS
    )
    per_bin = packed.groupBy("shard", "bin_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe_t").alias("bin_tokens"),
    )
    return (
        per_bin.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("bin_tokens").alias("sum_tokens"),
            F.max("bin_tokens").alias("max_bin_tokens"),
        )
        .orderBy("shard")
    )


def _sql_bpe_pack() -> str:
    split, wm = _bpe_fit_word_map()
    b = _BPE_PACK_BUDGET
    return f"""
    WITH wm(word, nt) AS (VALUES {wm}),
    dw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest({split}) AS w
        FROM documents WHERE text IS NOT NULL)
      WHERE w <> ''),
    counts AS (
      SELECT d.doc_id, coalesce(sum(wm.nt), 0) AS t
      FROM documents d
      LEFT JOIN dw x ON d.doc_id = x.doc_id
      LEFT JOIN wm ON x.w = wm.word
      GROUP BY d.doc_id),
    base AS (
      SELECT doc_id, t, {_sql_pack_shard("doc_id")} AS shard FROM counts),
    binned AS (
      SELECT shard, t,
             CAST(floor(coalesce(sum(t) OVER (
               PARTITION BY shard ORDER BY t DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {b}.0)
             AS BIGINT) AS bin_idx
      FROM base),
    bins AS (
      SELECT shard, bin_idx, count(*) AS n_docs,
             CAST(sum(t) AS BIGINT) AS bin_tokens
      FROM binned GROUP BY shard, bin_idx)
    SELECT shard, count(*) AS n_bins,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(bin_tokens) AS BIGINT) AS sum_tokens,
           max(bin_tokens) AS max_bin_tokens
    FROM bins GROUP BY shard ORDER BY shard
    """


oracle("docs_bpe_pack", _sql_bpe_pack)


_SPAN_N = 13


@query("docs_span_dedup", gate=False)
def _docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-span removal over the real documents
    table (operators/cleanup.remove_duplicate_spans at n=13): per doc,
    the md5 of the post-removal text plus the removal counts. The md5
    pins every surviving byte — untouched docs must round-trip their
    ORIGINAL text exactly, edited docs must drop exactly the covered
    words — while keeping the compared frame narrow."""
    from etl_instagram_spark.operators.cleanup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = remove_duplicate_spans(docs, "doc_id", "text", n=_SPAN_N)
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit("<NULL>"))).alias("text_md5"),
        "n_spans_removed",
        "n_words_removed",
    ).orderBy("doc_id")


oracle(
    "docs_span_dedup",
    f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
    ),
    lists AS (  -- the class is spelled out because Java's \\s (the Spark
                -- side) includes \\x0B while RE2's does not (text.py note)
      SELECT doc_id,
             string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS l
      FROM docs WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    w AS (  -- (doc, pos, word): 1-based positions via aligned unnest +
            -- generate_subscripts (DuckDB 1.0.0 lacks WITH ORDINALITY)
      SELECT doc_id, unnest(l) AS word, generate_subscripts(l, 1) AS pos
      FROM lists
    ),
    counts AS (SELECT doc_id, max(pos) AS n_words FROM w GROUP BY doc_id),
    sp AS (  -- every n-word window, hashed over lowercased words
      SELECT w.doc_id, w.pos AS start,
             md5(string_agg(lower(w2.word), ' ' ORDER BY w2.pos)) AS h
      FROM w JOIN w w2
        ON w2.doc_id = w.doc_id AND w2.pos BETWEEN w.pos AND w.pos + {_SPAN_N - 1}
      JOIN counts c ON c.doc_id = w.doc_id
      WHERE w.pos <= c.n_words - {_SPAN_N - 1}
      GROUP BY w.doc_id, w.pos
    ),
    ranked AS (
      SELECT doc_id, start,
             count(*)     OVER (PARTITION BY h) AS cnt,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
      FROM sp
    ),
    removals AS (  -- every occurrence except the smallest (doc, start)
      SELECT doc_id, start FROM ranked WHERE cnt >= 2 AND rn > 1
    ),
    covered AS (  -- word positions inside any removed occurrence
      SELECT DISTINCT r.doc_id, w.pos
      FROM removals r JOIN w
        ON w.doc_id = r.doc_id
       AND w.pos BETWEEN r.start AND r.start + {_SPAN_N - 1}
    ),
    rebuilt AS (
      SELECT w.doc_id,
             string_agg(w.word, ' ' ORDER BY w.pos)
               FILTER (WHERE c.pos IS NULL) AS new_text,
             count(c.pos) AS n_words_removed
      FROM w LEFT JOIN covered c
        ON c.doc_id = w.doc_id AND c.pos = w.pos
      GROUP BY w.doc_id
    ),
    nrem AS (SELECT doc_id, count(*) AS n_spans_removed FROM removals GROUP BY doc_id)
    SELECT d.doc_id,
           md5(coalesce(
             CASE WHEN nrem.doc_id IS NULL THEN d.text
                  ELSE coalesce(rebuilt.new_text, '') END,
             '<NULL>')) AS text_md5,
           coalesce(nrem.n_spans_removed, 0) AS n_spans_removed,
           CASE WHEN nrem.doc_id IS NULL THEN 0
                ELSE rebuilt.n_words_removed END AS n_words_removed
    FROM docs d
    LEFT JOIN nrem    ON nrem.doc_id = d.doc_id
    LEFT JOIN rebuilt ON rebuilt.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)


@query("docs_perplexity_buckets", gate=False)
def _docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing certified end-to-end
    (operators/lm.perplexity_buckets, by="lang"): per document the
    rounded bits-per-word plus its within-language percent_rank bucket.
    The mirror re-fits the unigram model from DuckDB's counts (same pure
    math, identical inlined doubles — the docs_unigram_ppl pattern) and
    replays the tertile cut as window SQL over the same deterministic
    (bits_per_word, doc_id) order. Wordless docs keep a NULL bucket."""
    from etl_instagram_spark.operators.lm import fit_unigram_lm, perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    lm = fit_unigram_lm(docs)
    out = perplexity_buckets(docs, lm, by="lang")
    return out.select(
        "doc_id",
        "lang",
        "n_words",
        F.round("bits_per_word", 4).alias("bits_per_word"),
        "ppl_bucket",
    ).orderBy("doc_id")


def _sql_perplexity_buckets() -> str:
    import duckdb

    from etl_instagram_spark.operators.lm import (
        unigram_lm_from_freqs,
        unigram_model_sql_values,
    )
    from etl_instagram_spark.operators.tokenizer import WORD_SPLIT_REGEX

    path = oracle_parquet("documents")
    split = f"string_split_regex(lower(text), '{WORD_SPLIT_REGEX}')"
    con = duckdb.connect()
    freqs = con.sql(
        f"""
        SELECT w AS word, count(*) AS freq
        FROM (SELECT unnest({split}) AS w FROM '{path}' WHERE text IS NOT NULL)
        WHERE w <> ''
        GROUP BY w ORDER BY freq DESC, word ASC LIMIT 65536
        """
    ).fetchall()
    con.close()
    lm = unigram_lm_from_freqs([(w, int(f)) for w, f in freqs])
    lo, hi = 1 / 3, 2 / 3  # perplexity_buckets' default cuts, same doubles
    return f"""
    WITH m(word, logp) AS (VALUES {unigram_model_sql_values(lm)}),
    dw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest({split}) AS w
        FROM documents WHERE text IS NOT NULL)
      WHERE w <> ''),
    scored AS (
      SELECT dw.doc_id, count(*) AS n_words,
             avg(-coalesce(m.logp, {lm.oov_logp!r})) AS bpw
      FROM dw LEFT JOIN m ON dw.w = m.word GROUP BY dw.doc_id),
    per_doc AS (
      SELECT d.doc_id, d.lang, coalesce(s.n_words, 0) AS n_words, s.bpw
      FROM documents d LEFT JOIN scored s USING (doc_id)),
    ranked AS (
      SELECT doc_id, lang, n_words, bpw,
             percent_rank() OVER (
               PARTITION BY lang ORDER BY bpw, doc_id) AS pr
      FROM per_doc WHERE n_words > 0)
    SELECT doc_id, lang, n_words, round(bpw, 4) AS bits_per_word,
           CASE WHEN pr <= {lo!r} THEN 'head'
                WHEN pr <= {hi!r} THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM ranked
    UNION ALL
    SELECT doc_id, lang, n_words, CAST(NULL AS DOUBLE) AS bits_per_word,
           CAST(NULL AS VARCHAR) AS ppl_bucket
    FROM per_doc WHERE NOT (n_words > 0)
    ORDER BY doc_id
    """


oracle("docs_perplexity_buckets", _sql_perplexity_buckets)


@query("docs_gopher_ngram_flags", gate=False)
def _docs_gopher_ngram_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nine Gopher n-gram repetition rules (cleanup.
    gopher_ngram_filter at paper-default thresholds) certified
    cross-engine: per document the 9 violation booleans plus the
    all-rules pass. The Python differential in test_cleanup pins the
    span-coverage arithmetic; THIS row replays it in a second engine —
    DuckDB recomputes every top/dup char fraction from scratch with
    window SQL + list functions (the fractions are integer/integer
    divisions, so the > threshold comparisons agree exactly)."""
    from etl_instagram_spark.operators.cleanup import gopher_ngram_filter

    docs = _t(spark, sf_dir, "documents")
    out = gopher_ngram_filter(docs, "text")
    keep = [c for c in out.columns if c.startswith("fail_")] + [
        "gopher_ngram_pass"
    ]
    return out.select("doc_id", *keep).orderBy("doc_id")


def _sql_gopher_ngram_flags() -> str:
    from etl_instagram_spark.operators.cleanup import (
        GOPHER_DUP_NGRAM_DEFAULTS,
        GOPHER_TOP_NGRAM_DEFAULTS,
    )

    # same whitespace class as the Spark tokenizer (Java \s, spelled out)
    split = (
        "list_filter(string_split_regex(trim(lower(coalesce(text, ''))), "
        "'[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    )
    ctes = [
        "docs AS (SELECT doc_id, text FROM documents)",
        f"toks AS (SELECT doc_id, {split} AS l FROM docs)",
        "w AS (SELECT doc_id, unnest(l) AS word,"
        " generate_subscripts(l, 1) AS pos FROM toks)",
        "total AS (SELECT doc_id, sum(length(word)) AS total_chars"
        " FROM w GROUP BY doc_id)",
    ]
    joins, flags = [], []
    all_ns = sorted(GOPHER_TOP_NGRAM_DEFAULTS) + sorted(GOPHER_DUP_NGRAM_DEFAULTS)
    for n in sorted(set(all_ns)):
        # windows j = 1..len-n+1; gram = space-joined n-token slice
        ctes.append(
            f"pos{n} AS (SELECT doc_id, l,"
            f" unnest(range(1, len(l) - {n} + 2)) AS j FROM toks)"
        )
        ctes.append(
            f"ng{n} AS (SELECT doc_id, j,"
            f" array_to_string(l[j:j + {n - 1}], ' ') AS gram FROM pos{n})"
        )
        ctes.append(
            f"cnt{n} AS (SELECT doc_id, gram, count(*) AS c"
            f" FROM ng{n} GROUP BY doc_id, gram)"
        )
    for n, cap in sorted(GOPHER_TOP_NGRAM_DEFAULTS.items()):
        # best = max count; arg = lexicographically smallest maximal gram
        # (== the first maximal equal-run of the Spark sorted-array fold)
        ctes.append(
            f"top{n} AS (SELECT doc_id, c AS best, gram AS arg FROM"
            f" (SELECT doc_id, gram, c, row_number() OVER"
            f" (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS r"
            f" FROM cnt{n}) WHERE r = 1)"
        )
        ctes.append(
            f"topfrac{n} AS (SELECT t.doc_id,"
            f" CAST(p.best * (length(p.arg) - {n - 1}) AS DOUBLE)"
            f" / t.total_chars AS frac"
            f" FROM total t JOIN top{n} p USING (doc_id)"
            f" WHERE t.total_chars > 0)"
        )
        joins.append(f"LEFT JOIN topfrac{n} ON topfrac{n}.doc_id = d.doc_id")
        flags.append(
            (f"fail_top_{n}gram_chars", f"coalesce(topfrac{n}.frac, 0) > {cap!r}")
        )
    for n, cap in sorted(GOPHER_DUP_NGRAM_DEFAULTS.items()):
        # covered word i <=> some duplicated window j in [i-n+1, i]
        ctes.append(
            f"dupw{n} AS (SELECT g.doc_id, g.j FROM ng{n} g"
            f" JOIN cnt{n} c ON c.doc_id = g.doc_id AND c.gram = g.gram"
            f" WHERE c.c >= 2)"
        )
        ctes.append(
            f"cov{n} AS (SELECT DISTINCT w.doc_id, w.pos FROM dupw{n} dw"
            f" JOIN w ON w.doc_id = dw.doc_id"
            f" AND w.pos BETWEEN dw.j AND dw.j + {n - 1})"
        )
        ctes.append(
            f"dupfrac{n} AS (SELECT c.doc_id,"
            f" CAST(sum(length(w.word)) AS DOUBLE)"
            f" / any_value(t.total_chars) AS frac"
            f" FROM cov{n} c JOIN w ON w.doc_id = c.doc_id AND w.pos = c.pos"
            f" JOIN total t ON t.doc_id = c.doc_id"
            f" WHERE t.total_chars > 0 GROUP BY c.doc_id)"
        )
        joins.append(f"LEFT JOIN dupfrac{n} ON dupfrac{n}.doc_id = d.doc_id")
        flags.append(
            (f"fail_dup_{n}gram_chars", f"coalesce(dupfrac{n}.frac, 0) > {cap!r}")
        )
    cols = ",\n           ".join(f"{expr} AS {name}" for name, expr in flags)
    ok = " AND ".join(f"NOT ({expr})" for _, expr in flags)
    return (
        "WITH " + ",\n    ".join(ctes) + "\n"
        f"    SELECT d.doc_id,\n           {cols},\n"
        f"           ({ok}) AS gopher_ngram_pass\n"
        "    FROM docs d\n    "
        + "\n    ".join(joins)
        + "\n    ORDER BY d.doc_id"
    )


oracle("docs_gopher_ngram_flags", _sql_gopher_ngram_flags())


@query("docs_dsir_selection", gate=False)
def _docs_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling certified end-to-end (operators/dsir):
    fit the hashed-ngram importance-ratio model with the English slice
    as the target domain, Gumbel-top-25 sample the corpus, return each
    selected doc's rounded log-weight and sampling key. The mirror
    re-fits the model from DuckDB's OWN feature counts through the same
    pure math (identical inlined doubles — the lm.py contract), so the
    row certifies the engine-neutral feature hashing, the counting, the
    weight sums, and the deterministic Gumbel coupling at once."""
    from etl_instagram_spark.operators.dsir import fit_dsir, importance_sample

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    model = fit_dsir(docs, target, n_buckets=1024)
    sel = importance_sample(docs, model, k=25)
    return sel.select(
        "doc_id", "lang", "log_weight", "sample_key"
    ).orderBy("doc_id")


def _sql_dsir_selection() -> str:
    import duckdb

    from etl_instagram_spark.operators.dsir import dsir_model_from_counts

    n_buckets = 1024
    path = oracle_parquet("documents")
    split = (
        "list_filter(string_split_regex(trim(lower(coalesce(text, ''))), "
        "'[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    )
    feats = f"""
    WITH toks AS (SELECT doc_id, lang, {split} AS l FROM "{{src}}"),
    grams AS (
      SELECT doc_id, unnest(l) AS g FROM toks
      UNION ALL
      SELECT doc_id, l[j] || ' ' || l[j + 1] AS g
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS j FROM toks)),
    feats AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % {n_buckets}
               AS bucket
      FROM grams)
    """
    con = duckdb.connect()

    def counts(where: str) -> dict[int, int]:
        rows = con.sql(
            feats.replace("{src}", path)
            + f"SELECT bucket, count(*) FROM feats "
            f"WHERE doc_id IN (SELECT doc_id FROM '{path}' {where}) "
            f"GROUP BY bucket"
        ).fetchall()
        return {int(b): int(c) for b, c in rows}

    raw = counts("")
    tgt = counts("WHERE lang = 'en'")
    con.close()
    model = dsir_model_from_counts(raw, tgt, n_buckets)
    # CAST: a bare decimal literal parses as DECIMAL in DuckDB, which
    # would sum in decimal arithmetic instead of the engine's doubles
    mvals = ", ".join(
        f"({b}, CAST({lr!r} AS DOUBLE))" for b, lr in enumerate(model.log_ratios)
    )
    return (
        feats.replace('"{src}"', "documents")
        + f""",
    m(bucket, lr) AS (VALUES {mvals}),
    w AS (SELECT doc_id, sum(lr) AS log_weight
          FROM feats JOIN m USING (bucket) GROUP BY doc_id),
    keyed AS (
      SELECT doc_id, log_weight,
             log_weight + -ln(-ln(
               (('0x' || substr(md5(doc_id::VARCHAR || ':dsir'), 1, 8))::BIGINT
                + 1) / 4294967297.0)) AS skey
      FROM w),
    top AS (SELECT doc_id, log_weight, skey FROM keyed
            ORDER BY skey DESC, doc_id LIMIT 25)
    SELECT d.doc_id, d.lang, round(t.log_weight, 6) AS log_weight,
           round(t.skey, 6) AS sample_key
    FROM top t JOIN documents d USING (doc_id)
    ORDER BY d.doc_id
    """
    )


oracle("docs_dsir_selection", _sql_dsir_selection)


@query("docs_token_weighted_length_quantiles", gate=False)
def _docs_token_weighted_length_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED dyadic-CM quantiles
    (operators/sketches.dcm_sketch weight_col, the r13 face) — per-lang
    doc-length quantiles weighted by TOKEN MASS: "the length below
    which a quarter/half/three-quarters of the corpus TOKENS sit", the
    packing/budgeting statistic, not the per-document median. Weights
    ride the shared token kernel (functions.text.tokens ↔ SQL_TOKS, the
    same certified pair the token-stats gate row uses), registers and
    the full descent replay bit-for-bit in DuckDB, and
    ``exact_wt_below`` contrasts each answer with the true token mass
    strictly below it — certifying the weighted quantile against the
    DATA. Scale: same register-bounded shuffle as the unweighted
    sketch; the contrast join broadcasts the tiny quantile frame."""
    from etl_instagram_spark.functions.text import token_count
    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles,
        dcm_sketch,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").cast("long").alias("v"),
        token_count(F.col("text")).cast("long").alias("wt"),
    )
    sk = dcm_sketch(docs, "v", ["lang"], weight_col="wt")
    qs = dcm_quantiles(
        sk, [(1, 4), (1, 2), (3, 4)], ["lang"]
    ).localCheckpoint(eager=True)  # reused: output + contrast probe
    exact = (
        F.broadcast(qs.select("lang", "q_num", "q_den", "q_value"))
        .join(docs, "lang")
        .filter(F.col("v") < F.col("q_value"))
        .groupBy("lang", "q_num", "q_den")
        .agg(F.sum("wt").cast("long").alias("exact_wt_below"))
    )
    return (
        qs.join(exact, ["lang", "q_num", "q_den"], "left")
        .withColumn(
            "exact_wt_below",
            F.coalesce("exact_wt_below", F.lit(0)).cast("long"),
        )
        .select(
            "lang", "q_num", "q_den", "n", "target", "q_value",
            "exact_wt_below",
        )
        .orderBy("lang", "q_den", "q_num")
    )


def _sql_docs_token_weighted_length_quantiles() -> str:
    from etl_instagram_spark.operators.sketches import (
        dcm_quantiles_sql,
        dcm_sketch_sql,
    )

    wt = f"len({SQL_TOKS})"
    sk = dcm_sketch_sql(
        "n_chars", "documents", ["lang"], weight_expr=wt
    )
    ctes = dcm_quantiles_sql(sk, [(1, 4), (1, 2), (3, 4)], ["lang"])
    return f"""
    WITH {ctes},
    dv AS (SELECT lang, n_chars::BIGINT AS v, ({wt})::BIGINT AS wt
           FROM documents WHERE n_chars IS NOT NULL),
    exact AS (SELECT q.lang, q.q_num, q.q_den,
                     (sum(d.wt) FILTER (d.v < q.q_value))::BIGINT
                       AS exact_wt_below
              FROM qout q JOIN dv d ON d.lang = q.lang
              GROUP BY q.lang, q.q_num, q.q_den)
    SELECT q.lang, q.q_num, q.q_den, q.n, q.target, q.q_value,
           COALESCE(x.exact_wt_below, 0)::BIGINT AS exact_wt_below
    FROM qout q LEFT JOIN exact x
      ON x.lang = q.lang AND x.q_num = q.q_num AND x.q_den = q.q_den
    ORDER BY q.lang, q.q_den, q.q_num
    """


oracle(
    "docs_token_weighted_length_quantiles",
    _sql_docs_token_weighted_length_quantiles(),
)


@query("docs_token_weighted_domain_hitters", gate=False)
def _docs_token_weighted_domain_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED exact heavy hitters
    (operators/frequency.heavy_hitters weight_col, the r13 mode) —
    sources holding ≥ 1/21 of the corpus's TOKEN MASS, not 1/21 of its
    documents: the corpus-concentration audit a mixture designer runs
    before capping. At sf0.01 the 20 uniform-ish sources straddle the
    4.76 % line (16 pass, 4 fail), so the integer threshold
    ``sum(w)·den ≥ W·num`` is exercised at the boundary, where a float
    compare would drift. Weights ride the shared token kernel
    (functions.text.token_count ↔ len(SQL_TOKS)). Scale: two scans +
    one ≤ capacity·partitions-row summary — the term domain is never
    shuffled; weighted-MG candidates keep the no-false-negative
    guarantee against weight shares (averaging argument is
    weight-agnostic)."""
    from etl_instagram_spark.functions.text import token_count
    from etl_instagram_spark.operators.frequency import heavy_hitters

    docs = _t(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).cast("long").alias("__wt")
    )
    return heavy_hitters(
        docs, "source", 1, 21, out_count_col="n_tokens", weight_col="__wt"
    ).orderBy(F.col("n_tokens").desc(), "source")


def _sql_docs_token_weighted_domain_hitters() -> str:

    wt = f"len({SQL_TOKS})"
    # source IS NOT NULL mirrors the Spark operator's null-term
    # semantics: mg_summary drops null terms from both the candidate
    # set and the total weight W, so NULL-source token mass must not
    # inflate the SQL side's W either (r13 ADVICE).
    return f"""
    WITH d AS (SELECT source, ({wt})::BIGINT AS wt FROM documents
               WHERE source IS NOT NULL)
    SELECT source, (sum(wt))::BIGINT AS n_tokens
    FROM d GROUP BY source
    HAVING sum(wt) * 21 >= (SELECT sum(wt) FROM d) * 1
    ORDER BY n_tokens DESC, source
    """


oracle(
    "docs_token_weighted_domain_hitters",
    _sql_docs_token_weighted_domain_hitters(),
)


@query("docs_pps_sample", gate=False)
def _docs_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling
    (operators/sampling.pps_sample) — a fixed budget of 300 draws from
    the documents pool weighted by n_chars, selection a pure int64
    grid walk over the hash-shuffled cumulative-weight line; the whole
    sample (ids AND multiplicities) replays bit-for-bit in DuckDB."""
    from etl_instagram_spark.operators.sampling import pps_sample

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return (
        pps_sample(docs, "doc_id", "n_chars", n=300)
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    )


def _sql_docs_pps_sample() -> str:
    from etl_instagram_spark.operators.sampling import pps_sample_sql

    ctes = pps_sample_sql(
        "SELECT doc_id, n_chars FROM documents WHERE n_chars > 0",
        "doc_id",
        "n_chars",
        n=300,
    )
    return f"""
    WITH {ctes}
    SELECT id AS doc_id, n_copies FROM pps ORDER BY doc_id
    """


oracle("docs_pps_sample", _sql_docs_pps_sample())


@query("docs_kmv_sample", gate=False)
def _docs_kmv_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sampling (operators/kmv.kmv_sample)
    — a deterministic fixed-SIZE uniform sample of 48 doc_ids per lang
    (every sf0.01 lang holds 64–218 docs, so the fixed-k branch is live
    for all five). No RNG state anywhere: membership is 'hash(doc_id)
    among the lang's 48 smallest', so the identical sample replays in
    DuckDB row-for-row — the replayable eval/holdout snapshot."""
    from etl_instagram_spark.operators.kmv import kmv_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        kmv_sample(docs, "doc_id", ["lang"], k=48)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


def _sql_docs_kmv_sample() -> str:
    from etl_instagram_spark.operators.kmv import kmv_sample_sql

    inner = kmv_sample_sql(
        "t.lang, t.doc_id, t.n_chars", "doc_id", "documents", ["lang"], k=48
    )
    return f"SELECT * FROM ({inner}) ORDER BY lang, doc_id"


oracle("docs_kmv_sample", _sql_docs_kmv_sample)


@query("docs_nfc_normalize", gate=False)
def _docs_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization
    (functions/unicodenorm.unicode_normalize, the multilingual-dedup
    prerequisite) certified cross-engine: both engines append the SAME
    decomposed suffix (e + combining acute, A + combining ring) to each
    document's text, normalize to NFC — composing the pairs into é / Å
    and shortening the string by exactly 2 — and the per-doc normalized
    content hash + both lengths replay bit-for-bit (DuckDB
    nfc_normalize implements the same UAX #15 composition the pandas
    UDF applies)."""
    from etl_instagram_spark.functions.text import hash32
    from etl_instagram_spark.functions.unicodenorm import unicode_normalize

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    raw = F.concat(F.col("text"), F.lit("é Å"))
    out = docs.select(
        "doc_id",
        F.length(raw).alias("len_raw"),
        unicode_normalize(raw, "NFC").alias("norm"),
    )
    return out.select(
        "doc_id",
        "len_raw",
        F.length("norm").alias("len_norm"),
        hash32(F.col("norm")).alias("norm_hash"),
    ).orderBy("doc_id")


def _sql_docs_nfc_normalize() -> str:
    from etl_instagram_spark.functions.text import hash32_sql
    from etl_instagram_spark.functions.unicodenorm import (
        unicode_normalize_sql,
    )

    raw = "text || 'e' || chr(769) || ' A' || chr(778)"
    norm = unicode_normalize_sql(raw)
    return f"""
    SELECT doc_id,
           length({raw}) AS len_raw,
           length({norm}) AS len_norm,
           {hash32_sql(norm)} AS norm_hash
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """


oracle("docs_nfc_normalize", _sql_docs_nfc_normalize)
