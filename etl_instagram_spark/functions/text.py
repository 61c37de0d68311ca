"""Text-analysis column kernels — pure Spark SQL expressions (no UDFs).

Everything here compiles to JVM-side Catalyst expressions inside
whole-stage codegen; the engine-neutral definitions (md5-based hashing,
whitespace tokenization) are chosen so a SQL oracle (DuckDB) can compute
bit-identical results for the correctness gate.

Reference lineage (SURVEY §2.7): tokenize F3 (lda/index.js:34), normalize
F5 (lda/index.js:38), stopword/short/url drop F7 (lda/index.js:40), plus
the LLM-data-pipeline text operators (language-ID, quality scoring, token
counting, rolling-hash fingerprinting) the engine adds for large-scale
training-data prep.

Scale note: every kernel is a per-row expression — no shuffle, no UDF, no
state. At 100 TB these run inside the scan stage at parquet-read speed;
the only downstream shuffles are whatever aggregation the caller adds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 31-bit Mersenne prime: keeps (a * x + b) % P inside int64 for a,b < 2^31.
HASH_PRIME = 2_147_483_647

# Compact marker-stopword sets driving the deterministic language-ID
# heuristic (the full EN/ES stopword lists for the ML/topics pipeline live
# in functions/stopwords.py).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "los", "que", "y", "en", "un"),
    "fr": ("le", "la", "les", "des", "et", "que", "une", "dans"),
    "de": ("der", "die", "das", "und", "nicht", "ein", "mit", "ist"),
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased, trimmed text (F3/F5)."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_count(col: Column) -> Column:
    """Number of whitespace tokens; 0 for empty/blank text."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(F.size(tokens(col)))


# GPT-2-style pre-tokenizer alternation (contractions, letter runs,
# digit runs, punctuation runs, residual whitespace) minus the original
# lookahead clause — RE2 (DuckDB) has no lookahead, and the pattern must
# count IDENTICALLY on both engines. Both Java regex and RE2 are
# leftmost-first over this alternation, and both treat \p{L}/\p{N} as
# Unicode classes, so match counts agree. The whitespace set is spelled
# OUT rather than \s because the engines' \s differ by exactly one
# character — Java's includes U+000B (vertical tab), RE2's does not —
# so a run like "\t\x0B\t" would count 1 on Spark and 3 on DuckDB.
_WS_CLASS = r" \t\n\x0B\f\r"
BPE_SPLIT_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
    r"| ?[^" + _WS_CLASS + r"\p{L}\p{N}]+"
    r"|[" + _WS_CLASS + r"]+"
)


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token estimate: the number of GPT-2-pre-tokenizer pieces.
    A per-row JVM regex count (no UDF) — the cheap proxy for "how many
    tokens will this doc cost" in corpus budgeting, where whitespace
    counts undercount code/punctuation-heavy text."""
    return F.regexp_count(col, F.lit(BPE_SPLIT_PATTERN))


def bpe_token_count_sql(expr: str) -> str:
    """DuckDB mirror of :func:`bpe_token_count` (same pattern constant)."""
    pat = BPE_SPLIT_PATTERN.replace("'", "''")
    return f"len(regexp_extract_all({expr}, '{pat}'))"


def hash32(col: Column) -> Column:
    """Deterministic, engine-neutral 32-bit hash of a string: the first 8
    hex chars of md5, as a bigint. md5 is identical in Spark and DuckDB
    (oracle mirror: :func:`hash32_sql`), unlike xxhash64/murmur which are
    engine-specific."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


SQL_HASH32 = "('0x' || substr(md5({v}), 1, 8))::BIGINT"


def hash32_sql(expr: str) -> str:
    """The DuckDB expression mirroring :func:`hash32` exactly — every
    oracle that checksums through hash32 must generate its SQL here, so
    the two engines can never drift (same convention as
    operators.dedup.band_hash_sql and enrich.topics.stop_drop_sql_predicate)."""
    return SQL_HASH32.format(v=expr)


def hash32_py(s: str) -> int:
    """Pure-Python mirror of :func:`hash32` — for driver-side replays
    of kernel-hashed walks (e.g. the dcm quantile descent) and test
    differentials."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def affine_hash(x: Column, a: int, b: int, p: int = HASH_PRIME) -> Column:
    """Universal-hash family h(x) = (a * (x % p) + b) % p, overflow-safe
    for a,b < 2^31 (product < 2^62 < int64 max). Used to derive the k
    MinHash permutations from one base hash."""
    return (F.lit(a) * (x % F.lit(p)) + F.lit(b)) % F.lit(p)


def _shingle_rule(text: Column, n: int, bind=lambda name, c: c) -> Column:
    """THE word n-gram shingle rule: trim + lower, split on ``\\s+``,
    every run of n consecutive tokens space-joined — or the whole
    normalized text as one shingle when it has fewer than n tokens (so
    every doc has ≥1 shingle). ``bind(name, column)`` lets a DataFrame
    caller stage the normalized text and the tokens as columns, so each
    is computed once per row instead of once per shingle element."""
    norm = bind("__sh_norm", F.trim(F.lower(text)))
    toks = bind("__sh_toks", F.split(norm, r"\s+"))
    return F.when(F.size(toks) < n, F.array(norm)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def _with_shingle_rule(df, text_col: str, out_col: str, n: int):
    """``df`` plus ``out_col``: :func:`_shingle_rule` over ``text_col``
    with its normalized text and tokens staged as columns (dropped
    after)."""

    def bind(name: str, c: Column) -> Column:
        nonlocal df
        df = df.withColumn(name, c)
        return F.col(name)

    shingles = _shingle_rule(F.col(text_col), n, bind)
    return df.withColumn(out_col, shingles).drop("__sh_norm", "__sh_toks")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (:func:`_shingle_rule`)."""
    return _shingle_rule(col, n)


def char_shingles(col: Column, width: int = 8) -> Column:
    """Character shingles (sliding window of ``width`` chars); one whole-
    text shingle when shorter. Basis of the rolling fingerprint."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - (width - 1), F.lit(1))),
        lambda i: col.substr(i, F.lit(width)),
    )


def rolling_fingerprint(col: Column, shingle_chars: int = 8) -> Column:
    """Document fingerprint: minimum 32-bit hash over all character
    shingles (winnowing-style rolling-hash min). Near-identical docs
    usually collide; any single-char edit changes it with prob ~1/len."""
    return F.array_min(F.transform(char_shingles(col, shingle_chars), hash32))


def minhash_signature(col: Column, k: int = 16, shingle_words: int = 3) -> Column:
    """MinHash signature: array of k minima of affine-permuted shingle
    hashes. P(sig_i matches) ≈ Jaccard similarity of the shingle sets.
    Deterministic coefficients derived from the slot index i (seeded
    golden-ratio multipliers) — mirrorable in the SQL oracle."""
    sh = word_shingles(col, shingle_words)
    base = F.transform(sh, hash32)

    def perm(a: int, b: int):
        # single-arg closure: pyspark counts lambda params to pick the HOF
        # arity, so default-arg capture (lambda h, a=a, b=b) would not bind
        return lambda h: affine_hash(h, a, b)

    sig = [F.array_min(F.transform(base, perm(a, b))) for a, b in minhash_coefficients(k)]
    return F.array(*sig)


def minhash_coefficients(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k MinHash permutations.
    Knuth multiplicative-hash constants mod P; a forced odd/nonzero."""
    coeffs = []
    for i in range(k):
        a = (2_654_435_761 * (i + 1) + 1) % HASH_PRIME
        b = (40_503 * (i + 7) + 104_729) % HASH_PRIME
        coeffs.append((a | 1, b))
    return coeffs


def _simhash32_from(hashes: Column) -> Column:
    """32-bit SimHash from an array<long> of 32-bit token hashes: bit j of
    the result is set iff more tokens have bit j set than unset. One
    aggregate pass with an array<long> vote accumulator (no per-bit
    re-scan of the token array)."""
    # vote for token hash h at bit j: +1 if bit set else -1.
    # bit j of h = floor(h / 2^j) % 2 (h < 2^32, exact in double).
    def votes(h: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda j: (F.floor(h / F.pow(F.lit(2.0), j)).cast("long") % 2) * 2 - 1,
        )

    totals = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
    )
    # fold bits via zip_with so `totals` is referenced ONCE — indexing it
    # per bit would re-run the whole vote aggregation 32 times per row
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])
    return F.aggregate(
        F.zip_with(totals, powers, lambda t, p: F.when(t > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash(col: Column) -> Column:
    """SimHash as array [lo32, hi32] (two independent 32-bit SimHashes from
    two md5-derived hash families). Near-identical docs differ in few bits.
    Two 32-bit halves keep everything inside signed int64 and make the
    hamming distance a simple sum of two bit_counts."""
    t = tokens(col)
    lo = F.transform(t, hash32)
    hi = F.transform(t, lambda x: hash32(F.concat(F.lit("s1:"), x)))
    return F.array(_simhash32_from(lo), _simhash32_from(hi))


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash() values (sum of bit_counts of
    the xor of each 32-bit half)."""
    return F.bit_count(F.element_at(a, 1).bitwiseXOR(F.element_at(b, 1))) + F.bit_count(
        F.element_at(a, 2).bitwiseXOR(F.element_at(b, 2))
    )


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation (quality signal)."""
    cleaned = F.regexp_replace(col, r"[^.!?,;:]", "")
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.length(cleaned).cast("double") / F.length(col)
    )


def mean_token_len(col: Column) -> Column:
    """Average token length in characters; 0.0 for blank text."""
    t = tokens(col)
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return F.when(F.length(F.trim(col)) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(t)
    )


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Fraction of tokens that are (English) stopwords — high for natural
    prose, low for boilerplate/code — a standard quality heuristic."""
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return F.when(F.length(F.trim(col)) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(t)
    )


def quality_score(col: Column) -> Column:
    """Composite 0-1 quality score: length band + stopword presence −
    punctuation excess. Deterministic and SQL-mirrorable; thresholds are
    conventional training-data-filter values, not learned."""
    length_ok = (F.length(col) >= 100) & (F.length(col) <= 20000)
    sw = stopword_ratio(col)
    pr = punct_ratio(col)
    return F.round(
        length_ok.cast("double") * 0.4
        + F.least(sw * F.lit(4.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(pr * F.lit(10.0), F.lit(1.0))) * 0.2,
        4,
    )


def lang_marker_hits(col: Column, lang: str) -> Column:
    """Count of tokens that are marker stopwords of ``lang``."""
    t = tokens(col)
    return F.size(F.filter(t, lambda x: x.isin(*LANG_MARKERS[lang])))


def detect_language(col: Column) -> Column:
    """Argmax language by marker-stopword hits; 'und' when all zero.
    Tie-break = fixed language order (en, es, fr, de) — mirrored in SQL
    as a CASE chain in the same order."""
    hits = {lang: lang_marker_hits(col, lang) for lang in LANG_MARKERS}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # built reversed so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def sentences(col: Column) -> Column:
    """Sentence segmentation (F4, topics.js:29): the reference's
    ``content.match(/[^.!?]+[.!?]+/g)`` as a per-row regexp extraction.
    Trailing text without a terminator is dropped, matching the regex."""
    return F.regexp_extract_all(col, F.lit(r"[^.!?]+[.!?]+"), F.lit(0))


def sentence_count(col: Column) -> Column:
    return F.size(sentences(col))


def with_minhash_signature(
    df,
    text_col: str,
    out_col: str = "minhash_sig",
    k: int = 16,
    shingle_words: int = 3,
    shingles_col: str | None = None,
):
    """DataFrame-level MinHash: same semantics as ``minhash_signature``
    but staged through materialized columns, so tokenization, shingling
    and the md5 base hashes are each computed ONCE per row.

    The pure-expression form embeds the split() subtree inside the
    shingle lambda (re-evaluated per element) and the base-hash array
    once per permutation — O(k·s) md5 calls per row instead of O(s).
    Staged columns are attribute references; CollapseProject keeps
    non-cheap aliases un-inlined, so each stage materializes once.
    (70s → ~2s on 5k docs at sf0.1.)

    ``shingles_col`` additionally emits the DISTINCT word-shingle set
    (``with_word_shingles(distinct=True)`` values) from the same staged
    tokenization — callers that need both the signature and the exact
    shingle set (the incremental near-dedup verify) tokenize once per
    row instead of twice.
    """
    sh = shingles_col or "__mh_sh"
    df = _with_shingle_rule(df, text_col, sh, shingle_words)
    df = df.withColumn("__mh_base", F.transform(F.col(sh), hash32))
    base = F.col("__mh_base")

    def perm(a: int, b: int):
        return lambda h: affine_hash(h, a, b)

    sig = F.array(
        *[F.array_min(F.transform(base, perm(a, b))) for a, b in minhash_coefficients(k)]
    )
    df = df.withColumn(out_col, sig).drop("__mh_base")
    if shingles_col is None:
        return df.drop(sh)
    return df.withColumn(shingles_col, F.array_distinct(F.col(shingles_col)))


def with_word_shingles(
    df,
    text_col: str,
    out_col: str = "shingles",
    n: int = 3,
    distinct: bool = False,
):
    """DataFrame-level word shingles, staged like with_minhash_signature
    so tokenization happens once per row (the expression form re-splits
    per shingle element — O(tokens²) per row)."""
    df = _with_shingle_rule(df, text_col, out_col, n)
    if distinct:
        df = df.withColumn(out_col, F.array_distinct(F.col(out_col)))
    return df
