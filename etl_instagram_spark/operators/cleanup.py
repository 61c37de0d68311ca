"""Corpus-level text cleanup: cross-document boilerplate line removal
and within-document repetition signals — the CCNet/C4-style cleaning
stage of a training-data pipeline (strip nav bars, cookie banners, and
license footers that repeat across a crawl; flag docs that are mostly
self-repetition). Engine-native extension; the reference's only text
cleanup is per-token stopword dropping (lda/index.js:34-48).

Spark-first design (100 TB):

- ``remove_boilerplate_lines`` is two line-level shuffles and nothing
  else: (1) explode docs to (doc, pos, line), count DISTINCT docs per
  normalized line, (2) anti-join the boilerplate line set back onto the
  exploded lines and re-assemble each doc with an order-preserving
  array_sort — no UDFs, no driver-side state. The boilerplate set is
  tiny by construction (only lines repeated across >= min_docs
  documents), so AQE broadcasts the anti-join side at runtime; the
  line-count aggregation is the same partial-agg shape as any word
  count. Line identity is full-md5-hashed before the join so the
  shuffle moves fixed-width keys that are collision-safe at crawl scale
  (a 32-bit hash would delete innocent lines), not unbounded line text.
- ``dup_line_fraction`` / ``dup_line_char_fraction`` are pure per-row
  expressions (scan-stage, codegen) implementing the Gopher repetition
  rules: the fraction of lines (or of characters in lines) that are
  duplicates of an earlier line in the SAME document.
- ``redact_pii`` / ``pii_counts`` are per-row regexp chains (no
  shuffle); ``flag_contaminated`` is the 13-gram benchmark
  decontamination rule — corpus shingles inner-joined to the (small,
  AQE-broadcast) benchmark shingle set.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_instagram_spark.functions.text import tokens


def _lines(col: Column) -> Column:
    # tolerate CRLF: a cookie banner in Windows-lineage pages must
    # normalize to the same line as its LF twin or boilerplate counting
    # splits across line-ending families
    return F.split(col, "\r?\n")


def _norm_line(col: Column) -> Column:
    return F.trim(F.lower(col))


def dup_line_fraction(col: Column) -> Column:
    """Fraction of a document's non-empty lines that duplicate another
    line in the same document (normalized lower/trim). 0.0 for docs
    with <= 1 non-empty line."""
    lines = F.filter(
        F.transform(_lines(col), _norm_line), lambda s: s != F.lit("")
    )
    n = F.size(lines)
    return F.when(
        n > 1, (n - F.size(F.array_distinct(lines))) / n.cast("double")
    ).otherwise(F.lit(0.0))


def dup_line_char_fraction(col: Column) -> Column:
    """Character-weighted variant: the fraction of non-empty-line
    CHARACTERS belonging to duplicate occurrences — long repeated
    paragraphs weigh more than repeated one-liners (the Gopher rule is
    thresholded on both variants)."""
    lines = F.filter(
        F.transform(_lines(col), _norm_line), lambda s: s != F.lit("")
    )
    total = F.aggregate(
        lines, F.lit(0), lambda acc, s: acc + F.length(s)
    )
    distinct_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda acc, s: acc + F.length(s)
    )
    return F.when(
        total > 0, (total - distinct_chars) / total.cast("double")
    ).otherwise(F.lit(0.0))


# Gopher Table A1 n-gram repetition thresholds (Rae et al. 2021): a doc
# fails when too many of its characters sit in the single most frequent
# n-gram (short n — catches repeated headers/CTAs) or in any duplicated
# n-gram (long n — catches copy-pasted passages)
GOPHER_TOP_NGRAM_DEFAULTS: dict[int, float] = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_DEFAULTS: dict[int, float] = {
    5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
}


def _nonblank_tokens(col: Column) -> Column:
    # tokens('') is [''] (split of an empty string); the repetition
    # signals need a genuinely empty array for blank docs
    return F.filter(tokens(col), lambda t: t != F.lit(""))


def _word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word ``n``-grams of an already-tokenized array —
    positions 1..w−n+1; empty array when the doc has < n words."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _token_chars(toks: Column) -> Column:
    return F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))


def _let(val: Column, body) -> Column:
    """Let-binding for column expressions: materialize ``val`` ONCE per
    row and hand it to ``body`` as a lambda variable. Spark has no SQL
    let, and interpreted higher-order functions re-evaluate a captured
    expression SUBTREE at every reference — an n-gram array referenced
    inside a per-position lambda would be rebuilt (split + slice + sort)
    for every position, turning a linear signal quadratic (measured:
    the un-bound dup_ngram_char_fraction did not finish 200 real docs;
    the bound version does them in seconds). ``transform`` over a
    1-element array is the standard workaround: the lambda variable is
    a plain attribute read wherever the body references it."""
    return F.element_at(F.transform(F.array(val), body), 1)


def top_ngram_char_fraction(col: Column, n: int) -> Column:
    """Gopher repetition signal: the fraction of a document's WORD
    characters (spaces excluded) contained in occurrences of its single
    most frequent word ``n``-gram. 0.0 for docs with < n words.

    Pure per-row expressions, no shuffle: the n-gram array is sorted and
    the longest equal-run found with one ``aggregate`` fold (O(w log w)
    per row); ties break to the lexicographically smallest n-gram (the
    first maximal run in sorted order), so the signal is a deterministic
    function of the text. Everything is scan-local — the signal costs
    zero shuffle bytes at any corpus size."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")

    def with_toks(toks):
        def with_ng(ng):
            init = F.struct(
                F.lit("").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("best"),
                F.lit("").alias("arg"),
            )

            def step(acc, x):
                run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                )
                better = run > acc["best"]
                return F.struct(
                    x.alias("prev"),
                    run.alias("run"),
                    F.when(better, run).otherwise(acc["best"]).alias("best"),
                    F.when(better, x).otherwise(acc["arg"]).alias("arg"),
                )

            top = F.aggregate(ng, init, step)
            total = _token_chars(toks)
            # chars of the winning n-gram minus its n-1 joining spaces
            top_chars = top["best"] * (F.length(top["arg"]) - (n - 1))
            return F.when(
                (total > 0) & (F.size(ng) > 0),
                top_chars.cast("double") / total,
            ).otherwise(F.lit(0.0))

        return _let(F.array_sort(_word_ngrams(toks, n)), with_ng)

    return _let(_nonblank_tokens(F.coalesce(col, F.lit(""))), with_toks)


def dup_ngram_char_fraction(col: Column, n: int) -> Column:
    """Gopher repetition signal: the fraction of a document's WORD
    characters lying inside at least one occurrence of a DUPLICATED
    word ``n``-gram (one appearing ≥ 2 times in the doc) — overlap
    counted once, per the paper's span-coverage semantics. 0.0 for docs
    with < n words.

    Per-row expression pipeline, no shuffle, every intermediate bound
    once via :func:`_let`: sort the n-gram array and take values equal
    to their sorted predecessor (the duplicate set, O(w log w) — never
    the O(w²) all-pairs count); flag each window by membership
    (O(m·|dup set|)); then a word position i is covered iff some window
    j ∈ [i−n+1, i] is flagged (O(w·n) attribute reads). The word-count
    cap rule (max_words, applied in the same scan) bounds w."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")

    def with_toks(toks):
        def with_ng(ng):
            w = F.size(toks)
            m = F.size(ng)  # number of n-gram windows = w - n + 1

            def dup_set(s):
                # m >= 2 guard: sequence(2, m) must ascend and
                # element_at stay in-bounds (ANSI errors otherwise)
                return F.when(
                    m >= 2,
                    F.array_distinct(
                        F.filter(
                            F.transform(
                                F.sequence(F.lit(2), m),
                                lambda i: F.when(
                                    F.element_at(s, i)
                                    == F.element_at(s, i - 1),
                                    F.element_at(s, i),
                                ),
                            ),
                            lambda x: x.isNotNull(),
                        )
                    ),
                ).otherwise(F.array().cast("array<string>"))

            def with_flags(flags):
                def covered(i):
                    return F.exists(
                        F.sequence(
                            F.greatest(F.lit(1), i - (n - 1)), F.least(i, m)
                        ),
                        lambda j: F.element_at(flags, j),
                    )

                # taken only when some flag is set ⟹ m >= 2 ⟹ w > n,
                # so inner sequences ascend and element_at is in-bounds
                covered_chars = F.aggregate(
                    F.filter(F.sequence(F.lit(1), w), covered),
                    F.lit(0).cast("long"),
                    lambda a, i: a + F.length(F.element_at(toks, i)),
                )
                total = _token_chars(toks)
                return F.when(
                    (total > 0) & F.array_contains(flags, F.lit(True)),
                    covered_chars.cast("double") / total,
                ).otherwise(F.lit(0.0))

            def with_dups(dups):
                return _let(
                    F.transform(ng, lambda g: F.array_contains(dups, g)),
                    with_flags,
                )

            return _let(_let(F.array_sort(ng), dup_set), with_dups)

        return _let(_word_ngrams(toks, n), with_ng)

    return _let(_nonblank_tokens(F.coalesce(col, F.lit(""))), with_toks)


def gopher_ngram_flags(
    col: Column,
    top_fracs: dict[int, float] | None = None,
    dup_fracs: dict[int, float] | None = None,
) -> dict[str, Column]:
    """The nine Gopher n-gram repetition rules as named violation
    booleans (True = FAIL), thresholds defaulting to the paper's Table
    A1 (:data:`GOPHER_TOP_NGRAM_DEFAULTS` /
    :data:`GOPHER_DUP_NGRAM_DEFAULTS`). Kept separate from
    :func:`gopher_flags` so the frozen default-rule oracle
    (docs_gopher_filter) is unchanged; compose via
    :func:`gopher_ngram_filter` or AND the flags yourself."""
    top_fracs = GOPHER_TOP_NGRAM_DEFAULTS if top_fracs is None else top_fracs
    dup_fracs = GOPHER_DUP_NGRAM_DEFAULTS if dup_fracs is None else dup_fracs
    out: dict[str, Column] = {}
    for n, cap in sorted(top_fracs.items()):
        out[f"top_{n}gram_chars"] = top_ngram_char_fraction(col, n) > cap
    for n, cap in sorted(dup_fracs.items()):
        out[f"dup_{n}gram_chars"] = dup_ngram_char_fraction(col, n) > cap
    return out


def gopher_ngram_filter(
    df: DataFrame,
    text_col: str,
    flag_prefix: str = "fail_",
    pass_col: str = "gopher_ngram_pass",
    top_fracs: dict[int, float] | None = None,
    dup_fracs: dict[int, float] | None = None,
) -> DataFrame:
    """Annotate ``df`` with the n-gram repetition violation flags and an
    all-rules ``pass_col`` — same keep-the-evidence convention as
    :func:`gopher_filter` (filtering is the caller's move so rejects can
    route to an audit sink). Composes with the base rule set:
    ``gopher_filter(...)`` then this, then
    ``F.col("gopher_pass") & F.col("gopher_ngram_pass")``."""
    flags = gopher_ngram_flags(F.col(text_col), top_fracs, dup_fracs)
    ok = F.lit(True)
    named = {}
    for rule, bad in flags.items():
        named[f"{flag_prefix}{rule}"] = bad
        ok = ok & ~bad
    named[pass_col] = ok
    return df.withColumns(named)


def boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
) -> DataFrame:
    """The normalized lines occurring in >= ``min_docs`` DISTINCT
    documents, with their document frequency: (line_norm, line_hash,
    n_docs). Distinct-doc counting (not occurrence counting) so a doc
    that repeats its own heading doesn't promote it to boilerplate."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    lines = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(F.transform(_lines(F.col(text_col)), _norm_line)).alias("line_norm"),
    ).filter(F.col("line_norm") != "")
    return (
        lines.groupBy("line_norm")
        .agg(F.countDistinct("__doc").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .withColumn("line_hash", F.md5(F.col("line_norm")))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """Strip every line occurring in >= ``min_docs`` distinct documents
    from every document (C4/CCNet boilerplate removal). Line order is
    preserved; empty lines are never treated as boilerplate. Adds
    ``out_col`` (default: replaces ``text_col``) plus
    ``n_boilerplate_removed``. Docs whose lines are ALL boilerplate
    come back with empty text, not dropped — row count is preserved.
    Rows with a null id or null text pass through UNCHANGED (the
    rebuild join can't address them; silently blanking their text
    would be data loss)."""
    out_col = out_col or text_col
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # ONE explode+normalize pass, lazily pinned: the boilerplate count
    # and the keep-join both read it (r19 — the separate
    # boilerplate_lines call re-exploded and re-normalized every line)
    exploded = (
        df.select(
            F.col(id_col).alias("__doc"),
            F.posexplode(_lines(F.col(text_col))).alias("__pos", "__line"),
        )
        .withColumn("__norm", _norm_line(F.col("__line")))
        .withColumn("__h", F.md5(F.col("__norm")))
        .localCheckpoint(eager=False)
    )
    bp = (
        exploded.filter(F.col("__norm") != "")
        .groupBy("__h")
        .agg(F.countDistinct("__doc").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select(F.col("__h").alias("line_hash"), F.lit(True).alias("__bp"))
    )
    kept = (
        exploded.join(
            bp,
            (exploded["__h"] == bp["line_hash"]) & (F.trim(F.col("__line")) != ""),
            "left",
        )
        .withColumn("__keep", F.col("__bp").isNull())
    )
    rebuilt = kept.groupBy("__doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("__pos", "__line"))
                    )
                ),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("__rebuilt"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0)).alias("n_boilerplate_removed"),
    )
    # null id never joins (__doc is keyed by id) and null text never
    # explodes — both coalesce back to the ORIGINAL text, not ""
    return (
        df.withColumn("__orig", F.col(text_col))
        .join(rebuilt, F.col(id_col) == F.col("__doc"), "left")
        .withColumn(
            out_col,
            F.when(F.col("__doc").isNull(), F.col("__orig")).otherwise(
                F.col("__rebuilt")
            ),
        )
        .withColumn(
            "n_boilerplate_removed", F.coalesce("n_boilerplate_removed", F.lit(0))
        )
        .drop("__doc", "__orig", "__rebuilt")
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446, Table A1)
# ---------------------------------------------------------------------------

# the published rule set's stopword list: a doc must contain at least 2
# occurrences to count as natural prose
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

# the paper-default thresholds — the ONE place they live; gopher_flags,
# gopher_filter, and the threshold docs all draw from here (the DuckDB
# oracle hardcodes the same values by design: it is a frozen mirror of
# the default-threshold gate query, pinned by the crafted-corpus parity
# test, not a second source of truth for the operator)
GOPHER_DEFAULTS: dict[str, "int | float"] = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "min_alpha_word_frac": 0.8,
    "min_stopword_hits": 2,
    "max_bullet_frac": 0.9,
    "max_ellipsis_frac": 0.3,
    "max_dup_line_frac": 0.3,
    "max_dup_line_char_frac": 0.2,
}


def _resolve_thresholds(thresholds: dict) -> dict:
    unknown = set(thresholds) - set(GOPHER_DEFAULTS)
    if unknown:
        raise TypeError(f"unknown gopher thresholds: {sorted(unknown)}")
    return {**GOPHER_DEFAULTS, **thresholds}


def gopher_flags(col: Column, **thresholds) -> dict[str, Column]:
    """The Gopher quality-filter rules as named violation booleans
    (True = the document FAILS that rule), thresholds defaulting to
    :data:`GOPHER_DEFAULTS` (the paper's Table A1 values). Every rule is
    a pure scan-stage column expression — array/regex arithmetic over
    one row, no UDF, no shuffle — and every expression has an exact
    DuckDB mirror (plans/q_docs_pipeline ``docs_gopher_filter``), so the
    whole rule set is value-checkable.

    Rules (paper Table A1): word count in [min_words, max_words]; mean
    word length in [min/max_mean_word_len]; symbol-to-word ratio
    (``#`` and ``...``) ≤ max_symbol_ratio; ≥ min_alpha_word_frac of
    words contain a letter; ≥ min_stopword_hits occurrences from
    :data:`GOPHER_STOPWORDS`; ≤ max_bullet_frac of lines start with a
    bullet; ≤ max_ellipsis_frac of lines end with an ellipsis; the two
    within-doc repetition fractions (:func:`dup_line_fraction` /
    :func:`dup_line_char_fraction`) under their caps.

    NULL text is treated as empty text (coalesced before the rules):
    blank/missing docs fail the word-count rule (0 words) and pass the
    ratio rules vacuously — a NULL propagating through the flags would
    instead drop the row from BOTH sides of a pass/reject split.
    """
    resolved = _resolve_thresholds(thresholds)
    c = F.coalesce(col, F.lit(""))
    return _gopher_flags_from(
        c, tokens(c), _gopher_raw_lines(c), _gopher_norm_lines(c), **resolved
    )


def _gopher_raw_lines(col: Column) -> Column:
    # line-shape rules: raw lines, space-trimmed (trim — both engines
    # strip the space character by default), empty lines excluded
    return F.filter(
        F.transform(_lines(col), lambda s: F.trim(s)), lambda s: s != F.lit("")
    )


def _gopher_norm_lines(col: Column) -> Column:
    # the dup-rule line normalization (_norm_line), non-empty only —
    # identical to the arrays inside dup_line_fraction
    return F.filter(
        F.transform(_lines(col), _norm_line), lambda s: s != F.lit("")
    )


def _gopher_flags_from(
    col: Column,
    toks: Column,
    raw_lines: Column,
    norm_lines: Column,
    *,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    min_alpha_word_frac: float,
    min_stopword_hits: int,
    max_bullet_frac: float,
    max_ellipsis_frac: float,
    max_dup_line_frac: float,
    max_dup_line_char_frac: float,
) -> dict[str, Column]:
    """Rule expressions over ALREADY-BUILT token/line arrays — the
    shape :func:`gopher_filter` uses so each array is split/normalized
    once per row instead of once per rule (the three array builds
    dominate the rule arithmetic; re-deriving them in all nine rules
    measured ~2× slower end-to-end)."""
    blank = F.length(F.trim(col)) == 0
    nw = F.when(blank, F.lit(0)).otherwise(F.size(toks))
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_wl = F.when(nw > 0, tok_chars.cast("double") / nw).otherwise(F.lit(0.0))
    # symbol counts via replace-and-measure — identical sequential
    # non-overlapping replace semantics on both engines
    n_hash = F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(col) - F.length(F.replace(col, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        nw > 0, (n_hash + n_ellipsis).cast("double") / nw
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        nw > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / nw,
    ).otherwise(F.lit(0.0))
    stop_hits = F.when(
        blank, F.lit(0)
    ).otherwise(F.size(F.filter(toks, lambda t: t.isin(*GOPHER_STOPWORDS))))
    nl = F.size(raw_lines)
    bullet_frac = F.when(
        nl > 0,
        F.size(
            F.filter(
                raw_lines,
                lambda s: s.startswith("- ")
                | s.startswith("* ")
                | s.startswith("•"),
            )
        ).cast("double")
        / nl,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        nl > 0,
        F.size(
            F.filter(
                raw_lines,
                lambda s: s.endswith("...") | s.endswith("…"),
            )
        ).cast("double")
        / nl,
    ).otherwise(F.lit(0.0))
    # dup-line rules from the normalized array (same expressions as
    # dup_line_fraction / dup_line_char_fraction, shared array build)
    nn = F.size(norm_lines)
    dup_frac = F.when(
        nn > 1, (nn - F.size(F.array_distinct(norm_lines))) / nn.cast("double")
    ).otherwise(F.lit(0.0))
    total_chars = F.aggregate(
        norm_lines, F.lit(0), lambda acc, s: acc + F.length(s)
    )
    distinct_chars = F.aggregate(
        F.array_distinct(norm_lines), F.lit(0), lambda acc, s: acc + F.length(s)
    )
    dup_char_frac = F.when(
        total_chars > 0,
        (total_chars - distinct_chars) / total_chars.cast("double"),
    ).otherwise(F.lit(0.0))
    return {
        "n_words": (nw < min_words) | (nw > max_words),
        "word_len": (~blank)
        & ((mean_wl < min_mean_word_len) | (mean_wl > max_mean_word_len)),
        "symbol_ratio": symbol_ratio > max_symbol_ratio,
        "alpha_words": (~blank) & (alpha_frac < min_alpha_word_frac),
        "stopwords": stop_hits < min_stopword_hits,
        "bullet_lines": bullet_frac > max_bullet_frac,
        "ellipsis_lines": ellipsis_frac > max_ellipsis_frac,
        "dup_lines": dup_frac > max_dup_line_frac,
        "dup_line_chars": dup_char_frac > max_dup_line_char_frac,
    }


def gopher_filter(
    df: DataFrame,
    text_col: str,
    flag_prefix: str = "fail_",
    pass_col: str = "gopher_pass",
    **thresholds,
) -> DataFrame:
    """Annotate ``df`` with the per-rule violation flags
    (``{flag_prefix}{rule}``) and an all-rules ``pass_col`` — filtering
    is the caller's ``.filter(F.col(pass_col))`` so rejected rows can be
    routed to a reject-audit sink instead of vanishing (the same
    keep-the-evidence convention as ``split_sentinel_pages``).

    The three array builds (tokens, trimmed lines, normalized lines)
    are materialized as hidden columns in their own projection before
    the rules reference them: CollapseProject keeps non-cheap
    expressions with multiple consumers in a separate project, so each
    array is computed once per row, not once per rule. NULL text is
    coalesced to '' first (see :func:`gopher_flags`) so every row lands
    in exactly one of the pass/reject streams."""
    resolved = _resolve_thresholds(thresholds)
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumns(
        {
            "__gtoks": tokens(c),
            "__grl": _gopher_raw_lines(c),
            "__gnlns": _gopher_norm_lines(c),
        }
    )
    flags = _gopher_flags_from(
        c, F.col("__gtoks"), F.col("__grl"), F.col("__gnlns"), **resolved
    )
    ok = F.lit(True)
    named = {}
    for rule, bad in flags.items():
        named[f"{flag_prefix}{rule}"] = bad
        ok = ok & ~bad
    named[pass_col] = ok
    return staged.withColumns(named).drop("__gtoks", "__grl", "__gnlns")


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Word ``n``-gram spans occurring ≥ ``min_count`` times across the
    whole corpus (within- or cross-document), with the deterministic
    keeper: ``(span_hash, n_occurrences, keep_doc, keep_start)`` where
    the keeper is the smallest ``(doc_id, start)`` occurrence. The
    discovery core of :func:`remove_duplicate_spans` — exposed for
    audits (what passages are duplicated, and how often?).

    Spark shape: one explode of per-doc span hashes (md5 over the
    lowercased word window — scan-stage expressions), one groupBy on
    the hash with a min-struct keeper — the same partial-agg shuffle
    as any word count. O(total words) shuffled rows, fixed-width keys."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    lw = F.transform(words, F.lower)
    spans = F.when(
        F.size(lw) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(lw) - (n - 1)),
            lambda i: F.struct(
                i.alias("start"),
                F.md5(F.array_join(F.slice(lw, i, n), " ")).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,h:string>>"))
    occ = (
        df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__doc"), F.explode(spans).alias("s"))
        .select("__doc", F.col("s.start").alias("__start"), F.col("s.h").alias("span_hash"))
    )
    return (
        occ.groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("__doc", "__start")).alias("__keep"),
        )
        .filter(F.col("n_occurrences") >= min_count)
        .select(
            "span_hash",
            "n_occurrences",
            F.col("__keep.__doc").alias("keep_doc"),
            F.col("__keep.__start").alias("keep_start"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    min_count: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """ExactSubstr-style passage dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): every word
    ``n``-gram span duplicated ≥ ``min_count`` times in the corpus is
    kept at its FIRST occurrence (smallest ``(doc_id, start)``) and the
    words covered by every other occurrence are removed — the
    passage-level sibling of :func:`remove_boilerplate_lines` (which
    needs duplication to align on line boundaries; a syndicated
    paragraph pasted mid-line escapes it, and this catches it).

    Contract: adds ``out_col`` (default: replaces ``text_col``) plus
    ``n_spans_removed``/``n_words_removed``. Docs with no removed span
    keep their ORIGINAL text byte-for-byte (whitespace preserved); a
    doc with removals is rebuilt from its surviving whitespace tokens
    joined by single spaces (the operator works on the token stream,
    like ExactSubstr works on the byte stream). Overlapping duplicate
    occurrences remove each covered word once. Row count is preserved;
    null-id/null-text rows pass through unchanged. Keeper choice and
    results are a pure function of the data — partitioning-independent.

    One-pass semantics (as in the paper): removal can create NEW
    adjacencies that a re-run would dedup further; run to a fixed point
    only if that is what you want.

    Scale: the discovery shuffle is O(total words); the removal join
    touches only duplicated occurrences (tiny against the corpus, so
    AQE broadcasts it); coverage testing is per-row expressions over
    the joined start list — O(w · removed-spans-in-doc) worst case,
    with the word-count cap bounding w."""
    out_col = out_col or text_col
    dup = duplicate_spans(df, id_col, text_col, n, min_count)
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    lw = F.transform(words, F.lower)
    spans = F.when(
        F.size(lw) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(lw) - (n - 1)),
            lambda i: F.struct(
                i.alias("start"),
                F.md5(F.array_join(F.slice(lw, i, n), " ")).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,h:string>>"))
    occ = (
        df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__doc"), F.explode(spans).alias("s"))
        .select("__doc", F.col("s.start").alias("__start"), F.col("s.h").alias("span_hash"))
    )
    removals = (
        occ.join(dup, "span_hash")
        .filter(
            ~(
                (F.col("__doc") == F.col("keep_doc"))
                & (F.col("__start") == F.col("keep_start"))
            )
        )
        .groupBy("__doc")
        .agg(F.collect_list("__start").alias("__starts"))
    )
    rebuilt = (
        df.withColumn("__orig", F.col(text_col))
        .join(removals, F.col(id_col) == F.col("__doc"), "left")
    )
    w = F.split(F.trim(F.col("__orig")), r"\s+")
    kept = F.filter(
        w,
        lambda x, i: ~F.exists(
            F.col("__starts"),
            lambda s: (i + 1 >= s) & (i + 1 <= s + F.lit(n - 1)),
        ),
    )
    return (
        rebuilt.withColumn(
            out_col,
            F.when(F.col("__doc").isNull(), F.col("__orig")).otherwise(
                F.array_join(kept, " ")
            ),
        )
        .withColumn(
            "n_spans_removed",
            F.coalesce(F.size("__starts"), F.lit(0)),
        )
        .withColumn(
            "n_words_removed",
            F.when(F.col("__doc").isNull(), F.lit(0)).otherwise(
                F.size(w) - F.size(kept)
            ),
        )
        .drop("__doc", "__starts", "__orig")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# deliberately conservative, widely-used public patterns: emails, bare
# IPv4s, and international-ish phone sequences. Redaction is a per-row
# regexp_replace chain — scan-stage, codegen, no shuffle.
_PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # only UNAMBIGUOUS phone shapes: +international, a parenthesized
    # area code, or 3-3/4-3/4 separator groups. A generic "long digit
    # run with separators" also matches ISO dates (2024-05-01), decimals
    # (3.1415926), page/year ranges (123-130, 2020-2024) and ids —
    # redacting those destroys legitimate training text, which is worse
    # than missing an oddly-formatted phone
    (
        "phone",
        r"(?<![\d.])(?:\+\d[\d ()./-]{5,}\d"
        r"|\(\d{2,4}\)[ ./-]?\d{3,4}[ ./-]?\d{2,4}"
        r"|\d{3}[ ./-]\d{3,4}[ ./-]\d{3,4})(?![\d.])",
        "<PHONE>",
    ),
)


def redact_pii(col: Column, kinds: Sequence[str] = ("email", "ipv4", "phone")) -> Column:
    """Replace PII spans with typed placeholders (``<EMAIL>``, ``<IP>``,
    ``<PHONE>``). Order is fixed email → ipv4 → phone so phone's digit
    pattern never eats the host part of an already-redacted email/IP.
    Pattern-based redaction is a BASELINE (public-corpus practice is
    regex passes exactly like these); swap in an NER model through the
    same column-in/column-out seam when one is available."""
    known = {k for k, _, _ in _PII_PATTERNS}
    bad = [k for k in kinds if k not in known]
    if bad:
        raise ValueError(f"unknown PII kinds {bad}; pick from {sorted(known)}")
    out = col
    for kind, pat, token in _PII_PATTERNS:
        if kind in kinds:
            out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(col: Column) -> Column:
    """Struct of per-kind PII match counts — the audit metric to report
    before/after a redaction pass. Counts run over the SAME progressive
    redaction chain as :func:`redact_pii`, so each span is attributed to
    exactly one kind (a bare IPv4 is ipv4, not also a phone-like digit
    run) and the struct sums to the number of replacements the redactor
    would make."""
    out = []
    cur = col
    for kind, pat, token in _PII_PATTERNS:
        out.append(F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(kind))
        cur = F.regexp_replace(cur, pat, token)
    return F.struct(*out)


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def _token_ngrams(col: Column, n: int) -> Column:
    """Sliding word ``n``-grams over whitespace tokens; EMPTY array for
    texts with fewer than ``n`` tokens (unlike ``word_shingles``, which
    falls back to a whole-raw-text shingle — decontamination needs both
    sides of the join built from the same token normalization, so the
    raw-text fallback would silently never match)."""
    from etl_instagram_spark.functions.text import tokens

    t = tokens(col)
    # slice + array_join per position, NOT an n-term element_at chain:
    # with n=13 (and one extra projection per distinct short eval-item
    # length) the chained form multiplies the expression tree ~n-fold
    # and blew a full-corpus decontamination pass from ~2 s to ~100 s
    # at sf0.1
    return F.when(
        (F.length(F.trim(col)) > 0) & (F.size(t) >= n),
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ngrams_from_tokens(toks: Column, raw: Column, n: int) -> Column:
    """:func:`_token_ngrams` over an already-STAGED token-array column.
    The inline form's lambda body references the ``tokens(col)`` subtree,
    and higher-order functions are CodegenFallback — interpreted
    evaluation re-runs the whole split per array ELEMENT, O(tokens²)
    per document (the r15 kmv shingle lesson). With ``toks`` a real
    column attribute the per-element work is one slice + join."""
    return F.when(
        (F.length(F.trim(raw)) > 0) & (F.size(toks) >= n),
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    n: int = 13,
    bloom_fpp: float | None = None,
) -> DataFrame:
    """Flag corpus docs sharing any word ``n``-gram with a benchmark/eval
    set (the standard 13-gram decontamination rule from public LLM
    training reports). Adds ``contaminated`` and ``n_hit_shingles``.

    ``bloom_fpp`` (e.g. 0.001) inserts a scan-stage Bloom pre-filter
    built from the benchmark shingle keys (functions/bloom.py): corpus
    shingles that cannot be benchmark hits — virtually all of them —
    are discarded inside the scan, before the aggregate/join shuffle
    ever sees them. Results are IDENTICAL (a Bloom filter has no false
    negatives; false positives merely survive to the exact join, which
    drops them as before) — pinned by a test. At 100 TB this is the
    difference between shuffling every document's shingle set and
    shuffling ~fpp of it.

    Benchmark items SHORTER than ``n`` tokens (an eval question of, say,
    5 words under the 13-gram rule) are matched at their own full length
    ``m``: the item contributes its single ``m``-gram, and the corpus is
    additionally shingled at each such ``m`` — so a short eval question
    embedded verbatim inside a longer corpus doc is still flagged. The
    distinct short lengths are read with a bounded driver collect (at
    most ``n - 1`` values); each distinct length adds one more corpus
    shingle projection in the same scan, so keep genuinely tiny-``n``
    eval sets separate if that cost matters.

    Spark shape: both sides explode to distinct n-gram md5 keys; the
    benchmark side is tiny relative to the corpus (eval sets are
    O(10^4-10^6) shingles), so the inner join broadcasts under AQE and
    the corpus is never shuffled — one scan + per-doc aggregation of hit
    counts, joined back to the full rows by id. Normalization (trim,
    lower, whitespace fold) matches on both sides by construction: the
    same ``_token_ngrams`` kernel builds both."""
    from etl_instagram_spark.functions.text import tokens

    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    bench_text_col = bench_text_col or text_col
    bt = F.col(bench_text_col)
    # stage both sides' token arrays as real columns: ngram lambdas over
    # a staged attribute do one slice per position; over the inline
    # tokens() subtree they re-split the text per position (HOFs are
    # CodegenFallback, no subexpression sharing) — O(tokens²) per doc
    bench_t = benchmark.withColumn("__btoks", tokens(bt))
    btoks = F.col("__btoks")
    # token count with a blank guard (split of "" yields [""], size 1)
    bench_m = F.when(F.length(F.trim(bt)) == 0, F.lit(0)).otherwise(
        F.size(btoks)
    )
    # lengths of benchmark items shorter than n: bounded driver collect,
    # at most n-1 distinct values
    short_ms = sorted(
        r["m"]
        for r in bench_t.select(bench_m.alias("m"))
        .filter((F.col("m") > 0) & (F.col("m") < n))
        .distinct()
        .collect()
    )
    # a benchmark item contributes its n-grams when long enough, else its
    # one full-length m-gram (= the ngram kernel at its exact token count)
    bench_shingles = F.when(
        bench_m >= n, _ngrams_from_tokens(btoks, bt, n)
    ).otherwise(
        F.coalesce(
            *[
                F.when(bench_m == m, _ngrams_from_tokens(btoks, bt, m))
                for m in short_ms
            ],
            F.array().cast("array<string>"),
        )
        if short_ms
        else F.array().cast("array<string>")
    )
    bench_keys = (
        bench_t.select(F.explode(bench_shingles).alias("__s"))
        .select(F.md5("__s").alias("__k"))
        .distinct()
    )
    dt = F.col(text_col)
    dtoks = F.col("__dtoks")
    doc_shingles = F.concat(
        _ngrams_from_tokens(dtoks, dt, n),
        *[_ngrams_from_tokens(dtoks, dt, m) for m in short_ms],
    )
    doc_keys = (
        docs.withColumn("__dtoks", tokens(dt))
        .select(
            F.col(id_col).alias("__doc"),
            F.explode(F.array_distinct(doc_shingles)).alias("__s"),
        )
        .select("__doc", F.md5("__s").alias("__k"))
    )
    if bloom_fpp is not None:
        from etl_instagram_spark.functions.bloom import (
            bloom_frame,
            bloom_parameters,
            build_bloom,
            might_contain,
        )

        n_bench = bench_keys.count()  # bounded: eval sets are small
        if n_bench:
            m_bits, k_probes = bloom_parameters(n_bench, bloom_fpp)
            words = build_bloom(bench_keys, "__k", m_bits, k_probes)
            doc_keys = (
                doc_keys.crossJoin(
                    F.broadcast(bloom_frame(docs.sparkSession, words))
                )
                .where(
                    might_contain(
                        F.col("__k"), F.col("__bloom"), m_bits, k_probes
                    )
                )
                .drop("__bloom")
            )
    hits = (
        doc_keys.join(bench_keys, "__k")
        .groupBy("__doc")
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )
    return (
        docs.join(hits, docs[id_col] == hits["__doc"], "left")
        .drop("__doc")
        .withColumn("n_hit_shingles", F.coalesce("n_hit_shingles", F.lit(0)))
        .withColumn("contaminated", F.col("n_hit_shingles") > 0)
    )


def compression_ratio(col: Column) -> Column:
    """zlib compression ratio of the UTF-8 text: compressed_len /
    raw_len; NULL for empty or NULL text (no bytes, no evidence). Highly
    repetitive boilerplate compresses far below natural prose, so
    pipelines (Gopher/RedPajama practice) drop docs whose ratio falls
    under ~0.3 as machine-generated or template spam and flag ratios
    near 1.0 as binary-ish noise.

    This is the engine's one deliberately-Python text signal: zlib has
    no Catalyst analogue, so it runs as an Arrow-batched pandas_udf —
    O(bytes) per row, no shuffle, and only rows that survive cheaper
    codegen filters should be fed to it (order your filter chain
    accordingly)."""
    import zlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _ratio(s: pd.Series) -> pd.Series:
        def one(t):
            if not isinstance(t, str) or not t:
                return None
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(one)

    return _ratio(col)


def compression_band(
    col: Column,
    low: float = 0.3,
    high: float = 0.95,
    ratio: Column | None = None,
) -> Column:
    """Classify the ratio: 'template_spam' (< low), 'natural'
    ([low, high]), 'noise' (> high), NULL for empty docs. Pass an
    already-computed ``ratio`` Column when also selecting
    :func:`compression_ratio` in the same projection — otherwise each
    output column plans its own Arrow UDF and every document is
    zlib-compressed twice."""
    r = ratio if ratio is not None else compression_ratio(col)
    return (
        F.when(r.isNull(), F.lit(None).cast("string"))
        .when(r < low, F.lit("template_spam"))
        .when(r > high, F.lit("noise"))
        .otherwise(F.lit("natural"))
    )


def flag_contaminated_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Near-duplicate decontamination: flag corpus docs whose exact
    word-shingle Jaccard against ANY benchmark item reaches
    ``threshold`` — the fuzzy complement of :func:`flag_contaminated`
    (exact n-gram overlap misses an eval item that was lightly
    paraphrased or re-punctuated into the crawl; public training
    reports run both rules).

    The dedup family's MinHash kernel (operators/dedup.py): both sides
    are staged once (signature, band hashes, distinct shingle set),
    candidates come from the band-hash EQUI-join (corpus × benchmark —
    never all pairs), and the exact Jaccard verify runs only on
    candidates, over the staged shingle sets. The benchmark side is
    eval-set sized; Spark broadcasts it under AQE. Adds ``fuzzy_contaminated`` and ``max_eval_jaccard``
    (the best-matching eval similarity, 0.0 when no candidate)."""
    from etl_instagram_spark.operators.dedup import _band_join, _jaccard, _stage_minhash

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    c = _stage_minhash(docs, text_col, k, bands, shingle_words).select(
        F.col(id_col).alias("doc_id"), F.col("__sh").alias("doc_sh"), "__bh"
    )
    e = _stage_minhash(
        benchmark, bench_text_col or text_col, k, bands, shingle_words
    ).select(F.col("__sh").alias("eval_sh"), "__bh")
    hits = (
        _band_join(c, e)
        .distinct()
        .select("doc_id", _jaccard(F.col("doc_sh"), F.col("eval_sh")).alias("__j"))
        .groupBy("doc_id")
        .agg(F.round(F.max("__j"), 6).alias("max_eval_jaccard"))
    )
    return (
        docs.join(hits.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn(
            "max_eval_jaccard", F.coalesce(F.col("max_eval_jaccard"), F.lit(0.0))
        )
        .withColumn(
            "fuzzy_contaminated", F.col("max_eval_jaccard") >= threshold
        )
    )
