"""Corpus-pipeline queries: hash splits, mixtures, boilerplate, domain caps,
Gopher quality, packing, PII, decontamination, chunking, and leakage-
safe splitting, each with its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_instagram_spark.functions import text as T
from etl_instagram_spark.plans.oracle import oracle
from etl_instagram_spark.plans.queries import _t, query
from etl_instagram_spark.plans.q_shared import (
    SQL_TOKS,
    SQL_WS,
    _spread,
)


# ---------------------------------------------------------------------------
# training-data composition gate: split/sample, mixture, boilerplate removal
# (operators/sampling.py, operators/cleanup.py — the round-4 families,
# promoted from pytest-only coverage into the driver's oracle gate)
# ---------------------------------------------------------------------------

# split weights / stratum fractions are module constants so the Spark plan
# and the generated DuckDB SQL share ONE source of truth — the bucket edges
# are computed with the identical int(round(f * _BUCKETS)) expression on
# both sides, so engine rounding can never drift.
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_LANG_FRACS = {"en": 0.5, "es": 0.3, "de": 0.2, "fr": 1.0, "zh": 0.1}


@query("docs_hash_split_sample")
def docs_hash_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (hash_split) composed with
    a per-language stratified downsample (stratified_sample) — the corpus
    release shape. Both are pure hash-predicate projections: no shuffle
    until the final count, and the assignment of any row is independent
    of partitioning and cluster size (sampling.py's leak-free guarantee).
    Oracle replays both predicates from the same constants."""
    from etl_instagram_spark.operators.sampling import hash_split, stratified_sample

    docs = _t(spark, sf_dir, "documents")
    d = hash_split(docs, "doc_id", dict(_SPLIT_WEIGHTS))
    s = stratified_sample(d, "doc_id", dict(_LANG_FRACS), strata_col="lang")
    base = d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    samp = s.groupBy("split").agg(F.count(F.lit(1)).alias("n_sampled"))
    return (
        base.join(samp, "split", "left")
        .withColumn("n_sampled", F.coalesce("n_sampled", F.lit(0)))
        .orderBy("split")
    )


def _sql_hash_split_sample() -> str:
    from etl_instagram_spark.operators.sampling import (
        _BUCKETS,
        bucket_sql,
        split_sql_case,
    )

    case = split_sql_case("doc_id", _SPLIT_WEIGHTS, salt="split")
    b = bucket_sql("doc_id", "sample")
    arms = " ".join(
        f"WHEN '{k}' THEN {int(round(f * _BUCKETS))}" for k, f in _LANG_FRACS.items()
    )
    return f"""
    WITH d AS (SELECT *, {case} AS split FROM documents),
    base AS (
      SELECT split, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM d GROUP BY split),
    s AS (
      SELECT split, count(*) AS n_sampled
      FROM d WHERE {b} < (CASE lang {arms} ELSE 0 END)
      GROUP BY split)
    SELECT base.split, n_docs, sum_chars, coalesce(n_sampled, 0) AS n_sampled
    FROM base LEFT JOIN s USING (split)
    ORDER BY base.split
    """


oracle("docs_hash_split_sample", _sql_hash_split_sample)


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.25, "src2": 0.25}
# weights are chosen binary-exact and summing to exactly 1.0 so the
# Python-side mixture_fractions arithmetic (which divides by total_w)
# and the simplified SQL below (which omits the exact /1.0) compute
# bit-identical doubles — the fraction → bucket-edge rounding then
# matches on both engines by construction.


@query("docs_corpus_mixture")
def docs_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture (mix_corpora): three sources down-sampled
    to a 50/25/25 token-weighted blend, binding source kept whole. The
    membership itself is value-checked (id_sum), not just the counts —
    the oracle recomputes the per-source keep-fractions from the same
    sizes with the same arithmetic and replays the hash predicate."""
    from etl_instagram_spark.operators.sampling import mix_corpora

    docs = _t(spark, sf_dir, "documents")
    sources = {
        name: docs.filter(F.col("source") == name) for name in _MIX_WEIGHTS
    }
    mixed = mix_corpora(
        sources, dict(_MIX_WEIGHTS), "doc_id", weigh_by="n_chars", salt="mixture"
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


def _sql_corpus_mixture() -> str:
    from etl_instagram_spark.operators.sampling import _BUCKETS, bucket_sql

    names = list(_MIX_WEIGHTS)
    in_list = ", ".join(f"'{s}'" for s in names)
    shares = " UNION ALL ".join(
        f"SELECT '{s}' AS source, CAST({w!r} AS DOUBLE) AS w"
        for s, w in _MIX_WEIGHTS.items()
    )
    bucket_case = (
        "CASE d.source "
        + " ".join(
            f"WHEN '{s}' THEN {bucket_sql('d.doc_id', f'mixture:{s}')}"
            for s in names
        )
        + " END"
    )
    return f"""
    WITH sizes AS (
      SELECT source, CAST(sum(n_chars) AS DOUBLE) AS avail
      FROM documents WHERE source IN ({in_list}) GROUP BY source),
    shares AS ({shares}),
    caps AS (
      SELECT s.source, avail, w, avail / w AS cap
      FROM sizes s JOIN shares USING (source)),
    fr AS (
      SELECT source,
             least(CAST(1.0 AS DOUBLE),
                   ((SELECT min(cap) FROM caps) * w) / avail) AS frac
      FROM caps),
    edges AS (
      -- round_even = banker's rounding, matching the Python side's
      -- int(round(frac * _BUCKETS)) in stratified_sample exactly;
      -- plain round() is half-away-from-zero and would drift on a
      -- data-dependent fraction landing exactly on a .5 edge
      SELECT source,
             CAST(round_even(frac * {_BUCKETS}, 0) AS BIGINT) AS edge FROM fr)
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(d.doc_id) AS BIGINT) AS id_sum
    FROM documents d JOIN edges e USING (source)
    WHERE ({bucket_case}) < e.edge
    GROUP BY d.source
    ORDER BY d.source
    """


oracle("docs_corpus_mixture", _sql_corpus_mixture)


@query("docs_boilerplate_removal")
def docs_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet cross-document boilerplate removal
    (cleanup.remove_boilerplate_lines) at word granularity: the synthetic
    documents are single-line, so spaces become line breaks and any word
    appearing in >= 100 distinct documents is "boilerplate" — the same
    explode → distinct-doc count → threshold → anti-join → ordered
    reassembly pipeline a crawl corpus needs, value-checked per document
    via distinct-md5 counting. Two line-level shuffles, no UDF."""
    from etl_instagram_spark.operators.cleanup import remove_boilerplate_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.translate("text", " ", "\n").alias("text")
    )
    cleaned = remove_boilerplate_lines(
        docs, "doc_id", "text", min_docs=100, out_col="clean"
    )
    return (
        cleaned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_boilerplate_removed").alias("n_removed"),
            F.sum(F.length("clean")).alias("sum_clean_chars"),
            F.countDistinct(F.md5("clean")).alias("n_distinct_clean"),
        )
        .orderBy("lang")
    )


oracle(
    "docs_boilerplate_removal",
    """
    WITH nl AS (
      SELECT doc_id, lang, replace(text, ' ', chr(10)) AS t FROM documents),
    split AS (
      SELECT doc_id, lang, string_split(t, chr(10)) AS parts FROM nl),
    posed AS (
      SELECT doc_id, lang, parts,
             unnest(generate_series(1, len(parts))) AS pos
      FROM split),
    lines AS (
      SELECT doc_id, lang, pos, parts[pos] AS line,
             trim(lower(parts[pos])) AS norm
      FROM posed),
    bp AS (
      SELECT norm FROM lines WHERE norm <> ''
      GROUP BY norm HAVING count(DISTINCT doc_id) >= 100),
    flagged AS (
      SELECT doc_id, lang, pos, line,
             (norm <> '' AND norm IN (SELECT norm FROM bp)) AS is_bp
      FROM lines),
    rebuilt AS (
      SELECT doc_id, any_value(lang) AS lang,
             coalesce(
               string_agg(CASE WHEN NOT is_bp THEN line END,
                          chr(10) ORDER BY pos),
               '') AS clean,
             sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS n_removed
      FROM flagged GROUP BY doc_id)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_removed) AS BIGINT) AS n_removed,
           CAST(sum(length(clean)) AS BIGINT) AS sum_clean_chars,
           count(DISTINCT md5(clean)) AS n_distinct_clean
    FROM rebuilt GROUP BY lang ORDER BY lang
    """,
)


# ---------------------------------------------------------------------------
# documents: per-source frequency cap (C4/RefinedWeb domain capping)
# ---------------------------------------------------------------------------


@query("docs_domain_cap", gate=False)
def docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sampling.cap_per_group: keep at most 15 docs per source
    (uniform deterministic preference — hashed-id rank), then audit the
    survivors per source. The id_sum makes the hash sensitive to WHICH
    rows survived, not just how many — the oracle replays the identical
    rank via ``cap_rank_sql`` (shared ``bucket_sql`` hash)."""
    from etl_instagram_spark.operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    capped = cap_per_group(docs, "source", "doc_id", 15, salt="cap")
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


def _sql_domain_cap() -> str:
    from etl_instagram_spark.operators.sampling import cap_rank_sql

    rn = cap_rank_sql("doc_id", "source", salt="cap")
    return f"""
    WITH r AS (SELECT source, doc_id, n_chars, {rn} AS rn FROM documents)
    SELECT source, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM r WHERE rn <= 15 GROUP BY source ORDER BY source
    """


oracle("docs_domain_cap", _sql_domain_cap)


# ---------------------------------------------------------------------------
# documents: Gopher quality-filter rule set
# ---------------------------------------------------------------------------


_GOPHER_RULES = (
    "n_words",
    "word_len",
    "symbol_ratio",
    "alpha_words",
    "stopwords",
    "bullet_lines",
    "ellipsis_lines",
    "dup_lines",
    "dup_line_chars",
)


@query("docs_gopher_filter")
def docs_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/cleanup.gopher_filter at the paper-default thresholds:
    per language, how many docs pass the full Gopher rule set and how
    many fail EACH rule — all nine violation expressions replayed
    verbatim by the oracle, so the rule arithmetic (tokenization, ratio
    guards, line shapes, dup fractions) is value-checked end-to-end, not
    just the pass count. On the synthetic corpus several line-shape
    rules are vacuous (single-line docs) — their zero counts are still
    hash-checked; the crafted-doc rule coverage lives in
    tests/test_cleanup.py."""
    from etl_instagram_spark.operators.cleanup import gopher_filter

    docs = _t(spark, sf_dir, "documents")
    flagged = gopher_filter(docs, "text")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("gopher_pass").cast("long")).alias("n_pass"),
            *[
                F.sum(F.col(f"fail_{r}").cast("long")).alias(f"fail_{r}")
                for r in _GOPHER_RULES
            ],
        )
        .orderBy("lang")
    )


# DuckDB mirror of every gopher_flags expression (same thresholds as the
# Python defaults; blank-doc and empty-list guards spelled out —
# list_sum([]) is NULL in DuckDB where Spark's aggregate-from-0 gives 0;
# NULL text coalesced to '' exactly like the operator)
_SQL_GOPHER_STOPS = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"
oracle(
    "docs_gopher_filter",
    f"""
    WITH src AS (SELECT lang, coalesce(text, '') AS text FROM documents),
    g AS (
      SELECT lang,
             trim(text) = '' AS blank,
             CASE WHEN trim(text) = '' THEN 0 ELSE len({SQL_TOKS}) END AS nw,
             {SQL_TOKS} AS toks,
             list_filter(list_transform(regexp_split_to_array(text, '\\r?\\n'),
                                        s -> trim(s)), s -> s <> '') AS rl,
             list_filter(list_transform(regexp_split_to_array(lower(text), '\\r?\\n'),
                                        s -> trim(s)), s -> s <> '') AS nlns,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell
      FROM src),
    m AS (
      SELECT lang, blank, nw,
             CASE WHEN nw > 0
                  THEN coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                       / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS mean_wl,
             CASE WHEN nw > 0 THEN (n_hash + n_ell) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS symbol_ratio,
             CASE WHEN nw > 0
                  THEN len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                       / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS alpha_frac,
             CASE WHEN blank THEN 0
                  ELSE len(list_filter(toks,
                           t -> list_contains({_SQL_GOPHER_STOPS}, t))) END AS stop_hits,
             CASE WHEN len(rl) > 0
                  THEN len(list_filter(rl, s -> starts_with(s, '- ')
                                            OR starts_with(s, '* ')
                                            OR starts_with(s, '•')))
                       / CAST(len(rl) AS DOUBLE)
                  ELSE 0.0 END AS bullet_frac,
             CASE WHEN len(rl) > 0
                  THEN len(list_filter(rl, s -> ends_with(s, '...')
                                            OR ends_with(s, '…')))
                       / CAST(len(rl) AS DOUBLE)
                  ELSE 0.0 END AS ellipsis_frac,
             CASE WHEN len(nlns) > 1
                  THEN (len(nlns) - len(list_distinct(nlns)))
                       / CAST(len(nlns) AS DOUBLE)
                  ELSE 0.0 END AS dup_frac,
             CASE WHEN coalesce(list_sum(list_transform(nlns, s -> length(s))), 0) > 0
                  THEN (list_sum(list_transform(nlns, s -> length(s)))
                        - list_sum(list_transform(list_distinct(nlns), s -> length(s))))
                       / CAST(list_sum(list_transform(nlns, s -> length(s))) AS DOUBLE)
                  ELSE 0.0 END AS dup_char_frac
      FROM g),
    f AS (
      SELECT lang,
             (nw < 50 OR nw > 100000) AS f_n_words,
             (NOT blank) AND (mean_wl < 3.0 OR mean_wl > 10.0) AS f_word_len,
             symbol_ratio > 0.1 AS f_symbol_ratio,
             (NOT blank) AND alpha_frac < 0.8 AS f_alpha_words,
             stop_hits < 2 AS f_stopwords,
             bullet_frac > 0.9 AS f_bullet_lines,
             ellipsis_frac > 0.3 AS f_ellipsis_lines,
             dup_frac > 0.3 AS f_dup_lines,
             dup_char_frac > 0.2 AS f_dup_line_chars
      FROM m)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN NOT (f_n_words OR f_word_len OR f_symbol_ratio
                                   OR f_alpha_words OR f_stopwords
                                   OR f_bullet_lines OR f_ellipsis_lines
                                   OR f_dup_lines OR f_dup_line_chars)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN f_n_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_n_words,
           CAST(sum(CASE WHEN f_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
           CAST(sum(CASE WHEN f_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
           CAST(sum(CASE WHEN f_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_words,
           CAST(sum(CASE WHEN f_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
           CAST(sum(CASE WHEN f_bullet_lines THEN 1 ELSE 0 END) AS BIGINT) AS fail_bullet_lines,
           CAST(sum(CASE WHEN f_ellipsis_lines THEN 1 ELSE 0 END) AS BIGINT) AS fail_ellipsis_lines,
           CAST(sum(CASE WHEN f_dup_lines THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup_lines,
           CAST(sum(CASE WHEN f_dup_line_chars THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup_line_chars
    FROM f GROUP BY lang ORDER BY lang
    """,
)


# ---------------------------------------------------------------------------
# sequence packing gate: cumsum + first-fit-decreasing (operators/packing.py)
# ---------------------------------------------------------------------------

_PACK_SHARDS = 8
_PACK_BUDGET_CUMSUM = 1000
_PACK_BUDGET_FFD = 500  # < max n_chars (553) so oversize singletons occur


def _sql_pack_shard(id_expr: str) -> str:
    """DuckDB mirror of packing._shard (hash32 of the stringified id)."""
    from etl_instagram_spark.functions.text import hash32_sql

    return f"CAST({hash32_sql(f'({id_expr})::VARCHAR')} % {_PACK_SHARDS} AS INT)"


@query("docs_pack_cumsum")
def docs_pack_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF-free sequence packing (packing.pack_cumsum): hash-shard fan-
    out, per-shard (tokens desc, id) running sum, bin = cumsum // budget.
    Value-checked per shard: bin count, doc count, token conservation,
    max bin load, and mean fill — the oracle replays the identical window
    arithmetic, so the bin ASSIGNMENT (not just totals) is certified.
    avg_fill is derived from the INTEGER aggregates (floor of an exactly
    representable ratio), never from averaged rounded doubles, so the
    value is partitioning/summation-order independent on both engines."""
    from etl_instagram_spark.operators.packing import bin_fill_stats, pack_cumsum

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    packed = pack_cumsum(
        docs, "doc_id", "n_chars", budget=_PACK_BUDGET_CUMSUM, shards=_PACK_SHARDS
    )
    bins = bin_fill_stats(packed, "n_chars", _PACK_BUDGET_CUMSUM)
    return (
        bins.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("bin_tokens").alias("sum_tokens"),
            F.max("bin_tokens").alias("max_bin_tokens"),
        )
        .withColumn(
            "avg_fill",
            F.floor(
                F.lit(10000.0)
                * F.col("sum_tokens")
                / (F.col("n_bins") * F.lit(_PACK_BUDGET_CUMSUM))
            )
            / F.lit(10000.0),
        )
        .orderBy("shard")
    )


def _sql_pack_cumsum() -> str:
    b = _PACK_BUDGET_CUMSUM
    return f"""
    WITH base AS (
      SELECT doc_id, n_chars AS t, {_sql_pack_shard("doc_id")} AS shard
      FROM documents),
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
      FROM binned GROUP BY shard, bin_idx),
    agg AS (
      SELECT shard, count(*) AS n_bins,
             CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(bin_tokens) AS BIGINT) AS sum_tokens,
             max(bin_tokens) AS max_bin_tokens
      FROM bins GROUP BY shard)
    SELECT shard, n_bins, n_docs, sum_tokens, max_bin_tokens,
           floor(10000.0 * sum_tokens / (n_bins * {b})) / 10000.0 AS avg_fill
    FROM agg ORDER BY shard
    """


oracle("docs_pack_cumsum", _sql_pack_cumsum)


@query("docs_pack_first_fit")
def docs_pack_first_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict budget packing (packing.pack_first_fit, applyInPandas FFD
    per shard). The oracle SIMULATES first-fit-decreasing exactly with a
    recursive CTE carrying the open-bin capacity list per shard — so bin
    count, oversize-singleton count, and total slack are value-certified
    against an independent FFD implementation, not just conservation
    invariants. Budget 500 < max(n_chars) so the oversize path runs."""
    from etl_instagram_spark.operators.packing import pack_first_fit

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    packed = pack_first_fit(
        docs, "doc_id", "n_chars", budget=_PACK_BUDGET_FFD, shards=_PACK_SHARDS
    )
    per_bin = packed.groupBy("shard", "bin_idx").agg(
        F.max("oversize").alias("oversize"),
        F.count(F.lit(1)).alias("bin_docs"),
        F.sum("n_chars").alias("bin_tokens"),
    )
    return (
        per_bin.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("bin_docs").alias("n_docs"),
            F.sum(F.when(F.col("oversize"), 1).otherwise(0))
            .cast("long")
            .alias("n_oversize"),
            F.sum(
                F.when(
                    ~F.col("oversize"),
                    F.lit(_PACK_BUDGET_FFD) - F.col("bin_tokens"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("slack"),
        )
        .orderBy("shard")
    )


def _sql_pack_first_fit() -> str:
    b = _PACK_BUDGET_FFD
    # caps list semantics mirror packing._pack: remaining capacity per
    # open bin, -1 for a CLOSED oversize singleton; first fitting bin
    # found via list_position over a cap >= t bitmap (0 = no fit)
    fit = "list_position(list_transform(f.caps, c -> c >= d.t), true)"
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, n_chars AS t, {_sql_pack_shard("doc_id")} AS shard
      FROM documents),
    ordered AS (
      SELECT shard, doc_id, t,
             row_number() OVER (PARTITION BY shard ORDER BY t DESC, doc_id) AS rn
      FROM base),
    ffd AS (
      SELECT shard, 0::BIGINT AS rn, CAST([] AS BIGINT[]) AS caps
      FROM (SELECT DISTINCT shard FROM ordered)
      UNION ALL
      SELECT f.shard, d.rn,
        CASE
          WHEN d.t > {b} THEN list_append(f.caps, (-1)::BIGINT)
          WHEN {fit} = 0 THEN list_append(f.caps, ({b} - d.t)::BIGINT)
          ELSE f.caps[1:{fit}-1] || [f.caps[{fit}] - d.t] || f.caps[{fit}+1:]
        END
      FROM ffd f JOIN ordered d ON d.shard = f.shard AND d.rn = f.rn + 1),
    final AS (
      SELECT shard, caps FROM ffd f
      WHERE rn = (SELECT max(rn) FROM ffd f2 WHERE f2.shard = f.shard))
    SELECT f.shard,
           CAST(len(f.caps) AS BIGINT) AS n_bins,
           (SELECT count(*) FROM ordered o WHERE o.shard = f.shard) AS n_docs,
           CAST(len(list_filter(f.caps, c -> c = -1)) AS BIGINT) AS n_oversize,
           CAST(coalesce(list_sum(list_filter(f.caps, c -> c >= 0)), 0)
                AS BIGINT) AS slack
    FROM final f ORDER BY f.shard
    """


oracle("docs_pack_first_fit", _sql_pack_first_fit)


# ---------------------------------------------------------------------------
# PII redaction gate (operators/cleanup.redact_pii / pii_counts)
# ---------------------------------------------------------------------------


@query("docs_pii_audit")
def docs_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit over a deterministic contact-blurb injection:
    every doc_id % 3 == 0 gains a synthetic email, every doc_id % 4 == 0
    a synthetic IPv4 (the corpus documents themselves contain no PII, so
    the gate manufactures it identically on both engines). Runs the REAL
    operators — cleanup.pii_counts for the per-kind audit and
    cleanup.redact_pii for the rewrite — and value-checks match counts,
    docs-touched, and total redacted-span length per source.

    Gate covers the email+ipv4 patterns only: the phone pattern uses
    lookarounds, which DuckDB's RE2 cannot run — phone redaction keeps
    pytest-only coverage (tests/test_cleanup.py)."""
    from etl_instagram_spark.operators.cleanup import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit(" from "),
            ((F.col("doc_id") % 223) + 1).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 13) % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") % 254) + 1).cast("string"),
        ),
    ).otherwise(F.lit(""))
    txt = F.concat(F.col("text"), email, ip)
    staged = docs.select(
        "source",
        pii_counts(txt).alias("pii"),
        (F.length(txt) - F.length(redact_pii(txt, kinds=("email", "ipv4")))).alias(
            "delta"
        ),
    )
    return (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pii.email").cast("long").alias("n_emails"),
            F.sum("pii.ipv4").cast("long").alias("n_ips"),
            F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_redacted"),
            F.sum("delta").cast("long").alias("sum_char_delta"),
        )
        .orderBy("source")
    )


def _sql_pii_audit() -> str:
    from etl_instagram_spark.operators.cleanup import _PII_PATTERNS

    pats = {k: p for k, p, _ in _PII_PATTERNS}
    em = pats["email"].replace("'", "''")
    ip = pats["ipv4"].replace("'", "''")
    return f"""
    WITH staged AS (
      SELECT source,
             text
             || (CASE WHEN doc_id % 3 = 0
                 THEN ' reach user' || doc_id::VARCHAR || '@mail'
                      || (doc_id % 7)::VARCHAR || '.example.com'
                 ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0
                 THEN ' from ' || ((doc_id % 223) + 1)::VARCHAR || '.'
                      || ((doc_id * 7) % 256)::VARCHAR || '.'
                      || ((doc_id * 13) % 256)::VARCHAR || '.'
                      || ((doc_id % 254) + 1)::VARCHAR
                 ELSE '' END) AS txt
      FROM documents),
    counted AS (
      SELECT source, txt,
             len(regexp_extract_all(txt, '{em}')) AS n_email,
             len(regexp_extract_all(regexp_replace(txt, '{em}', '<EMAIL>', 'g'),
                                    '{ip}')) AS n_ip,
             length(txt) - length(
               regexp_replace(regexp_replace(txt, '{em}', '<EMAIL>', 'g'),
                              '{ip}', '<IP>', 'g')) AS delta
      FROM staged)
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS n_emails,
           CAST(sum(n_ip) AS BIGINT) AS n_ips,
           CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_redacted,
           CAST(sum(delta) AS BIGINT) AS sum_char_delta
    FROM counted GROUP BY source ORDER BY source
    """


oracle("docs_pii_audit", _sql_pii_audit)


# ---------------------------------------------------------------------------
# benchmark decontamination gate (operators/cleanup.flag_contaminated)
# ---------------------------------------------------------------------------

_DECON_N = 13


@query("docs_decontamination")
def docs_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-gram benchmark decontamination (cleanup.flag_contaminated): the
    eval set is every doc_id % 17 == 3 document — even ids truncated to
    their first 5 tokens so the short-item path (corpus re-shingled at
    the eval item's own length m < n) runs through the gate; odd ids are
    kept whole for the standard 13-gram path but only when they have
    >= 13 tokens. The length gate bounds the operator's documented
    per-distinct-short-length cost to ONE extra corpus projection
    (short_ms == {5}) — an unbounded eval set of sub-13-token items is
    exactly the shape flag_contaminated's docstring says to keep
    separate. Value-checked per source: contaminated-doc count and total
    distinct hit shingles."""
    from etl_instagram_spark.operators.cleanup import flag_contaminated

    docs = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    n_toks = F.size(T.tokens(F.col("text")))
    bench = (
        docs.filter(F.col("doc_id") % 17 == 3)
        .filter((F.col("doc_id") % 2 == 0) | (n_toks >= _DECON_N))
        .select(
            F.when(
                F.col("doc_id") % 2 == 0,
                F.array_join(F.slice(T.tokens(F.col("text")), 1, 5), " "),
            )
            .otherwise(F.col("text"))
            .alias("text")
        )
    )
    flagged = flag_contaminated(docs, bench, "doc_id", "text", n=_DECON_N)
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.sum("n_hit_shingles").cast("long").alias("sum_hits"),
        )
        .orderBy("source")
    )


def _sql_decontamination() -> str:
    n = _DECON_N
    # short_ms is DYNAMIC (any bench item under n tokens adds its own
    # length), mirroring flag_contaminated's bounded driver collect —
    # in SQL it's just a distinct-lengths CTE cross-joined into the
    # corpus shingling, no hardcoded m
    return f"""
    WITH toks AS (
      SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents),
    bench AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN toks[1:5] ELSE toks END AS btoks
      FROM toks
      WHERE doc_id % 17 = 3
        AND (doc_id % 2 = 0 OR len(toks) >= {n})),
    short_ms AS (
      SELECT DISTINCT len(btoks) AS m FROM bench
      WHERE len(btoks) > 0 AND len(btoks) < {n}),
    bench_pos AS (
      SELECT btoks, unnest(generate_series(1, len(btoks) - {n} + 1)) AS i
      FROM bench WHERE len(btoks) >= {n}),
    bench_keys AS (
      SELECT DISTINCT md5(sh) AS k FROM (
        SELECT array_to_string(btoks[i:i+{n}-1], ' ') AS sh FROM bench_pos
        UNION ALL
        SELECT array_to_string(btoks, ' ') AS sh
        FROM bench WHERE len(btoks) > 0 AND len(btoks) < {n})),
    doc_pos_n AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {n} + 1)) AS i
      FROM toks),
    doc_pos_m AS (
      SELECT doc_id, toks, m,
             unnest(generate_series(1, len(toks) - m + 1)) AS i
      FROM toks CROSS JOIN short_ms),
    doc_keys AS (
      SELECT DISTINCT doc_id, md5(sh) AS k FROM (
        SELECT doc_id, array_to_string(toks[i:i+{n}-1], ' ') AS sh FROM doc_pos_n
        UNION ALL
        SELECT doc_id, array_to_string(toks[i:i+m-1], ' ') AS sh FROM doc_pos_m)),
    hits AS (
      SELECT doc_id, count(*) AS n_hits
      FROM doc_keys JOIN bench_keys USING (k) GROUP BY doc_id)
    SELECT t.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(sum(coalesce(h.n_hits, 0)) AS BIGINT) AS sum_hits
    FROM toks t LEFT JOIN hits h USING (doc_id)
    GROUP BY t.source ORDER BY t.source
    """


oracle("docs_decontamination", _sql_decontamination)


# ---------------------------------------------------------------------------
# documents: chunking (fixed token windows with stride overlap)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS, _CHUNK_STRIDE = 64, 48


@query("docs_chunking")
def docs_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/packing.chunk_documents over the corpus: 64-token
    windows with 16-token overlap (stride 48). Chunk text is md5'd so
    the gate compares full content without hashing megabytes of strings;
    token counts and chunk indices ride along. The oracle replays the
    windows with DuckDB list slicing from the same tokenizer mirror."""
    from etl_instagram_spark.operators.packing import chunk_documents

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = chunk_documents(
        docs.select("doc_id", "text"),
        "doc_id",
        "text",
        chunk_tokens=_CHUNK_TOKENS,
        stride=_CHUNK_STRIDE,
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
        "n_chunk_tokens",
    ).orderBy("doc_id", "chunk_idx")


oracle(
    "docs_chunking",
    f"""
    WITH t AS (SELECT doc_id,
                      -- case-PRESERVING split (not SQL_TOKS, which
                      -- lowercases for the analysis kernels); empty
                      -- fragments filtered so tab/newline-edged, blank,
                      -- and NULL text all behave like the Spark side
                      list_filter(
                        regexp_split_to_array(coalesce(text, ''), '[{SQL_WS}]+'),
                        x -> x <> '') AS toks
               FROM documents),
         c AS (SELECT doc_id, toks,
                      1 + CAST(ceil(greatest(len(toks) - {_CHUNK_TOKENS}, 0)::DOUBLE
                                    / {_CHUNK_STRIDE}) AS INT) AS nc
               FROM t)
    SELECT doc_id, i AS chunk_idx,
           md5(coalesce(array_to_string(
                 toks[1 + i*{_CHUNK_STRIDE} : i*{_CHUNK_STRIDE} + {_CHUNK_TOKENS}],
                 ' '), '')) AS chunk_md5,
           coalesce(len(toks[1 + i*{_CHUNK_STRIDE} : i*{_CHUNK_STRIDE} + {_CHUNK_TOKENS}]), 0)
             AS n_chunk_tokens
    FROM c CROSS JOIN unnest(range(nc)) u(i)
    ORDER BY doc_id, chunk_idx
    """,
)


# ---------------------------------------------------------------------------
# leakage-safe corpus splitting
# ---------------------------------------------------------------------------

_LEAK_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


@query("docs_leakage_safe_split")
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment keyed on CONTENT, not id: the split
    bucket hashes the normalized text, so byte-identical duplicates
    land in the same split by construction and can never leak
    train→test (the standard eval-contamination failure when splitting
    a deduplicated-later corpus by doc id). Pure scan-stage
    projections — both the group key and the split are per-row hash
    expressions, no shuffle until the audit aggregation.

    The result is the audit: per split, doc and distinct-group counts
    plus the redundant-duplicate count, and two global columns —
    ``leaked_groups`` (dup groups straddling splits under the
    content-keyed assignment: provably 0, COMPUTED not asserted) vs
    ``leaked_groups_docid_split`` (the same count under the naive
    id-keyed split — the leak this operator exists to prevent)."""
    from etl_instagram_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").withColumn(
        "gk", T.hash32(F.trim(F.lower(F.col("text"))))
    )
    d = hash_split(docs, "gk", dict(_LEAK_WEIGHTS), salt="leakfree")
    d = hash_split(
        d, "doc_id", dict(_LEAK_WEIGHTS), salt="leakfree", split_col="split_docid"
    )
    per = d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("gk").alias("n_groups"),
    )
    leaked = (
        d.groupBy("gk")
        .agg(
            F.countDistinct("split").alias("ns"),
            F.countDistinct("split_docid").alias("nsd"),
        )
        .agg(
            F.count(F.when(F.col("ns") > 1, True)).alias("leaked_groups"),
            F.count(F.when(F.col("nsd") > 1, True)).alias(
                "leaked_groups_docid_split"
            ),
        )
    )
    return (
        per.crossJoin(F.broadcast(leaked))  # one-row audit side
        .select(
            "split",
            "n_docs",
            "n_groups",
            (F.col("n_docs") - F.col("n_groups")).alias("dup_docs"),
            "leaked_groups",
            "leaked_groups_docid_split",
        )
        .orderBy("split")
    )


def _sql_leakage_safe_split() -> str:
    from etl_instagram_spark.functions.text import hash32_sql
    from etl_instagram_spark.operators.sampling import split_sql_case

    gk = hash32_sql("trim(lower(text))")
    case_gk = split_sql_case(gk, _LEAK_WEIGHTS, salt="leakfree")
    case_id = split_sql_case("doc_id", _LEAK_WEIGHTS, salt="leakfree")
    return f"""
    WITH d AS (SELECT {gk} AS gk, {case_gk} AS split, {case_id} AS split_docid
               FROM documents),
    per AS (SELECT split, count(*) AS n_docs,
                   count(DISTINCT gk) AS n_groups
            FROM d GROUP BY split),
    leaked AS (SELECT count(*) FILTER (ns > 1) AS leaked_groups,
                      count(*) FILTER (nsd > 1) AS leaked_groups_docid_split
               FROM (SELECT gk, count(DISTINCT split) AS ns,
                            count(DISTINCT split_docid) AS nsd
                     FROM d GROUP BY gk))
    SELECT split, n_docs, n_groups, n_docs - n_groups AS dup_docs,
           leaked_groups, leaked_groups_docid_split
    FROM per CROSS JOIN leaked
    ORDER BY split
    """


oracle("docs_leakage_safe_split", _sql_leakage_safe_split())
