"""BM25 ranked retrieval over a document table — the lexical search
side of a training-data/RAG pipeline (mine documents for a topic, build
eval retrieval sets, hybrid-score with the ANN operators in
operators/similarity.py). Engine-native extension; the reference's only
text ranking is LDA topic confidence (lda/index.js:68-101).

Okapi BM25 with the Lucene/Robertson idf variant:

    score(d, q) = Σ_t  ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                       · tf_td·(k1+1) / (tf_td + k1·(1 - b + b·|d|/avgdl))

Spark-first shape, sized for a SHORT literal query-term list (the query
is user input, like the query vector in ann_lsh_topk — not a joined
table):

- per-term tf is ``size(filter(tokens, x -> x = t))`` — a scan-stage
  column expression per query term; no explode, no postings shuffle;
- corpus stats (N, avgdl, df per term) reduce to ONE partially-aggregated
  row, crossJoin(broadcast)-ed back onto the scoring scan — the classic
  tiny-dimension broadcast, never a shuffle of the corpus;
- the final top-k is orderBy+limit → TakeOrderedAndProject.

So the whole operator is two corpus scans (stats, score) and a top-k —
at 100 TB each scan is embarrassingly parallel and the only data
movement is one broadcast row. An inverted-postings design (explode →
groupBy(term, doc)) only wins when |query| is large or when many
queries amortize one postings build; for the interactive single-query
path this shape strictly dominates.

Determinism note: the per-doc score is built as a FIXED-ORDER sum of
per-term components (t1 + t2 + ...), not an aggregation over an
unordered term frame — floating addition is order-sensitive, and the
fixed order is what lets the DuckDB oracle replay scores bit-for-bit
(plans/q_docs ``docs_bm25_topk``).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the corpus-wide token definition — ONE implementation (SQL mirror:
# plans/q_shared.SQL_TOKS), shared with cleanup/dedup/packing
from etl_instagram_spark.functions.text import tokens as _toks


def _tf(toks: Column, term: str) -> Column:
    # a real closure, not a default-arg lambda: F.filter dispatches on
    # lambda ARITY, so `lambda x, t=t:` would be read as the two-arg
    # (element, index) form and compare tokens against positions
    lit = F.lit(term)
    return F.size(F.filter(toks, lambda x: x == lit))


def _validate(query_terms: Sequence[str], k1: float, b: float) -> list[str]:
    terms = [t.strip().lower() for t in query_terms]
    if not terms or any(not t for t in terms):
        raise ValueError(f"query_terms must be non-empty words, got {query_terms!r}")
    if len(set(terms)) != len(terms):
        raise ValueError(f"query_terms must be distinct, got {query_terms!r}")
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1}, b={b}")
    return terms


def bm25_corpus_stats(
    df: DataFrame, text_col: str, query_terms: Sequence[str]
) -> DataFrame:
    """One-row frame of the corpus statistics BM25 needs for these query
    terms: ``n_docs``, ``avgdl`` (mean token count over ALL docs, with
    blank docs contributing length 0 — so a blank-heavy corpus deflates
    avgdl by design; 0.0 for an empty corpus), and one ``df_i``
    document-frequency column per term (fixed order = the query order).
    A single partial aggregation — this is the frame :func:`bm25_topk`
    broadcasts. The DuckDB mirror counts blanks the same way."""
    terms = _validate(query_terms, 1.0, 0.5)
    # tokenize once per row in a projection below the aggregate — the
    # split is the dominant per-row cost and every df_i references it
    blank = F.length(F.trim(F.col(text_col))) == 0
    staged = df.select(
        _toks(F.col(text_col)).alias("__btoks"),
        F.when(blank, F.lit(True)).otherwise(F.lit(False)).alias("__bblank"),
    )
    toks = F.col("__btoks")
    dl = F.when(F.col("__bblank"), F.lit(0)).otherwise(F.size(toks))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.avg(dl.cast("double")), F.lit(0.0)).alias("avgdl"),
    ]
    for i, t in enumerate(terms):
        aggs.append(F.sum((_tf(toks, t) > 0).cast("long")).alias(f"df_{i}"))
    return staged.agg(*aggs)


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 score for ``query_terms`` (matched
    against the lowercased whitespace tokens — pre-normalize the query
    through the same pipeline as the corpus). Returns (id, score
    rounded to 6, per-term tf columns) ordered by score desc with the id
    as the deterministic tie-break. Zero-score docs are filtered before
    the top-k so an all-miss corpus returns an empty frame rather than
    arbitrary zero-score rows."""
    terms = _validate(query_terms, k1, b)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # every working column is __bm-prefixed so an input table that
    # already carries n_docs / score / tf_0 / ... neither collides with
    # the broadcast stats row nor gets silently overwritten; the output
    # names (score, tf_i) exist only in the final projection
    stats = bm25_corpus_stats(df, text_col, terms)
    stats = stats.select([F.col(c).alias(f"__bm_{c}") for c in stats.columns])
    blank = F.length(F.trim(F.col(text_col))) == 0
    # same once-per-row tokenization staging as the stats pass
    staged = df.withColumn("__btoks", _toks(F.col(text_col)))
    toks = F.col("__btoks")
    dl = F.when(blank, F.lit(0)).otherwise(F.size(toks))
    scored = staged.crossJoin(F.broadcast(stats)).withColumn("__dl", dl)
    avgdl = F.col("__bm_avgdl")
    score: Column = F.lit(0.0)
    for i, t in enumerate(terms):
        tf_col = f"__bm_tf_{i}"
        scored = scored.withColumn(tf_col, _tf(toks, t).cast("double"))
        dfreq = F.col(f"__bm_df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__bm_n_docs") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        denom = F.col(tf_col) + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl
        )
        contrib = idf * F.col(tf_col) * F.lit(k1 + 1.0) / denom
        # avgdl == 0 (empty/blank corpus) or tf == 0 → the term
        # contributes nothing; the guard keeps 0/0 NaNs out of the sum
        score = score + F.when(
            (F.col(tf_col) > 0) & (avgdl > 0), contrib
        ).otherwise(F.lit(0.0))
    return (
        scored.withColumn("__bm_score", F.round(score, 6))
        .filter(F.col("__bm_score") > 0)
        .select(
            id_col,
            F.col("__bm_score").alias("score"),
            *[F.col(f"__bm_tf_{i}").alias(f"tf_{i}") for i in range(len(terms))],
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def bm25_score_py(
    tf: float, df: int, n_docs: int, dl: int, avgdl: float, k1: float, b: float
) -> float:
    """Reference scalar implementation (same formula, same guards) for
    differential tests — NOT used by the Spark path."""
    if tf <= 0 or avgdl <= 0:
        return 0.0
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def rrf_fuse(
    ranked: Sequence[DataFrame],
    id_col: str,
    order_cols: Sequence[Sequence[Column]],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked result
    frames: ``rrf = Σ_lists 1/(c + rank)``, summed in LIST order (fixed
    floating order — replayable), with absent ids contributing nothing.
    ``order_cols[i]`` is the ordering that defines list i's ranks (give
    each a deterministic tie-break!). Returns (id, rrf_score, rank_0..)
    top-``k`` by fused score, id ascending on ties.

    The standard way to combine BM25 and embedding-cosine retrieval
    WITHOUT score calibration — ranks are scale-free, so a 0-10 BM25
    and a [-1,1] cosine fuse cleanly. Scale shape: each input is already
    a top-N (small); ranking is one window per list over N rows and the
    fusion an N-row broadcast-able outer join chain — driver-bounded by
    construction, like the ANN query sides."""
    if len(ranked) != len(order_cols) or not ranked:
        raise ValueError("need one order_cols entry per ranked frame")
    if k < 1 or c < 1:
        raise ValueError(f"need k >= 1 and c >= 1, got k={k}, c={c}")
    from pyspark.sql import Window

    fused: DataFrame | None = None
    for i, (df, order) in enumerate(zip(ranked, order_cols)):
        w = Window.orderBy(*order)
        lst = df.select(
            F.col(id_col),
            F.row_number().over(w).cast("double").alias(f"rank_{i}"),
        )
        fused = lst if fused is None else fused.join(lst, id_col, "full_outer")
    score: Column = F.lit(0.0)
    for i in range(len(ranked)):
        score = score + F.when(
            F.col(f"rank_{i}").isNotNull(), F.lit(1.0) / (F.lit(float(c)) + F.col(f"rank_{i}"))
        ).otherwise(F.lit(0.0))
    return (
        fused.withColumn("rrf_score", F.round(score, 6))
        .orderBy(F.col("rrf_score").desc(), F.col(id_col))
        .limit(k)
    )


def build_bm25_index(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """The MANY-QUERIES face of BM25: one inverted-postings build that
    amortizes across an arbitrary query stream — the design the module
    docstring reserves for exactly this case (the single-query scan
    path :func:`bm25_topk` stays strictly better for one-off queries).

    Returns ``(postings, corpus)``:

    - ``postings``: one row per (term, doc) — ``term, <id_col>, tf,
      dl`` with ``tf`` the in-doc term frequency and ``dl`` the doc's
      token count (denormalized onto every posting so query-time
      scoring never joins a doclen table);
    - ``corpus``: ONE row — ``n_docs, avgdl`` over ALL docs including
      blank ones (same convention as :func:`bm25_corpus_stats`, so the
      two faces score identically).

    Scale shape: the build is one tokenize scan + explode + counting
    groupBy — Σ tokens rows into an O(corpus vocabulary × docs-per-
    term) table, the classic inverted-index shuffle, linear in corpus
    size. Persist ``postings`` partitioned/bucketed BY TERM (e.g.
    ``partitionBy(hash-bucket-of-term)``) and a query touches only its
    terms' postings — partition pruning does the rest; the 100 TB
    query path reads megabytes. Blank/empty docs produce no postings
    (they can never match) but still count in ``n_docs``/``avgdl``."""
    blank = F.length(F.trim(F.col(text_col))) == 0
    staged = df.select(
        F.col(id_col),
        _toks(F.col(text_col)).alias("__btoks"),
        F.when(blank, F.lit(True)).otherwise(F.lit(False)).alias("__bblank"),
    )
    dl = F.when(F.col("__bblank"), F.lit(0)).otherwise(F.size(F.col("__btoks")))
    docs = staged.select(F.col(id_col), dl.alias("dl"), F.col("__btoks"))
    postings = (
        docs.select(
            F.col(id_col), "dl", F.explode(F.col("__btoks")).alias("term")
        )
        # blank text tokenizes to [''] (the split convention); an empty
        # term can never be queried (_validate rejects it), so it must
        # not fabricate postings rows
        .filter(F.col("term") != "")
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    corpus = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.avg(F.col("dl").cast("double")), F.lit(0.0)).alias(
            "avgdl"
        ),
    )
    return postings, corpus


def bm25_corpus_counts(df: DataFrame, text_col: str) -> DataFrame:
    """ONE row ``(n_docs, sum_dl)`` — the SUM-MERGEABLE decomposition of
    :func:`build_bm25_index`'s corpus stats, what the continuous index
    face (streaming/incremental.apply_bm25_delta) stores per epoch.
    Same blank-doc convention as the batch build (blank docs count with
    length 0). ``avgdl = sum_dl / n_docs`` reproduces the batch
    ``avg(dl)`` BIT-FOR-BIT as long as ``sum_dl < 2^53``: dl values are
    integers, and IEEE-double addition over integers below 2^53 is
    exact in any order, so Spark's Average (double sum / double count)
    and the decomposed division compute the same two exact operands —
    the read face enforces the 2^53 bound loudly."""
    blank = F.length(F.trim(F.col(text_col))) == 0
    dl = F.when(blank, F.lit(0)).otherwise(F.size(_toks(F.col(text_col))))
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(dl.cast("long")), F.lit(0)).cast("long").alias(
            "sum_dl"
        ),
    )


def bm25_topk_indexed(
    postings: DataFrame,
    corpus: DataFrame,
    id_col: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` BM25 answered from a :func:`build_bm25_index` index —
    row-identical to :func:`bm25_topk` on the same corpus (pinned by
    test): the same idf/tf/denominator float expressions and the same
    FIXED-ORDER per-term score sum, so even 6-dp rounding ties break
    the same way.

    Query shape: filter postings to the query terms (a pushdown-able
    predicate — with term-partitioned storage this is partition
    pruning, never a corpus scan), count per-term document frequency
    over the pruned rows (≤ |terms| groups), broadcast df + the 1-row
    corpus stats back on, score each posting, and fold per-doc
    contributions in query order. Cost is O(postings of the query
    terms) regardless of corpus size — the amortized many-queries
    complement of the scan path."""
    terms = _validate(query_terms, k1, b)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pruned = postings.filter(F.col("term").isin(list(terms)))
    dfreq = pruned.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    corpus = corpus.select(
        F.col("n_docs").alias("__bm_n_docs"), F.col("avgdl").alias("__bm_avgdl")
    )
    scored = pruned.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(corpus)
    )
    dfd = F.col("__df").cast("double")
    idf = F.log(
        F.lit(1.0) + (F.col("__bm_n_docs") - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    )
    avgdl = F.col("__bm_avgdl")
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl
    )
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    scored = scored.withColumn(
        "__contrib",
        F.when((F.col("tf") > 0) & (avgdl > 0), contrib).otherwise(F.lit(0.0)),
    )
    # per-term pivot, then the SAME fixed-order sum as bm25_topk — a
    # plain SUM over an unordered row set would re-associate the float
    # adds and could flip a 6-dp tie against the scan path
    aggs = []
    for i, t in enumerate(terms):
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("term") == t, F.col("__contrib"))),
                F.lit(0.0),
            ).alias(f"__c_{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("term") == t, F.col("tf"))), F.lit(0.0)
            ).alias(f"tf_{i}")
        )
    per_doc = scored.groupBy(id_col).agg(*aggs)
    score: Column = F.lit(0.0)
    for i in range(len(terms)):
        score = score + F.col(f"__c_{i}")
    return (
        per_doc.withColumn("score", F.round(score, 6))
        .filter(F.col("score") > 0)
        .select(
            id_col, "score", *[f"tf_{i}" for i in range(len(terms))]
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
