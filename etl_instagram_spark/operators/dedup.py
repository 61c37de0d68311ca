"""Document deduplication operators: exact, MinHash-LSH, SimHash, and
n-gram-Jaccard verification.

The reference dedups only by natural key (posts-from-hashtags.js:295-300);
these operators generalize to content-level dedup for training-data
pipelines (SURVEY §7 step 11). All are compositions of built-in DataFrame
ops — no UDFs — so they stay inside whole-stage codegen.

Scale design (100 TB):
- ``exact_dedup``: one shuffle on a 32-byte md5 key; skewed dup clusters
  are handled by AQE skew-join/partition coalescing.
- One MinHash kernel serves every MinHash face — batch, incremental
  (``incremental_near_dedup``) and fuzzy decontamination
  (cleanup.flag_contaminated_fuzzy): ``_stage_minhash`` (signature, band
  hashes and distinct shingle set from one tokenization, a scan-stage
  projection), ``_band_join`` (equi-join on (band, band_hash) —
  candidate volume is O(Σ bucket²), never O(n²)) and ``_jaccard`` (exact
  verify on the staged sets). Tune k/bands to the target Jaccard
  threshold via the standard (1/b)^(1/r) S-curve.
- ``near_dedup_minhash``: candidates → exact shingle-Jaccard verify →
  keep-smallest-id survivor choice. The verify join only touches candidate
  pairs. Survivor semantics are single-pass (a doc is dropped iff some
  verified duplicate has a smaller id) — the standard large-scale choice;
  full transitive closure would need iterative connected components.
- ``simhash_candidates``: bucket by each 32-bit half (two passes), verify
  by Hamming distance ≤ max_hamming — near-dup recall with two equi-joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_instagram_spark.functions import text as T
from etl_instagram_spark.operators.merge import MergeTable


def _staged_dedup_text(
    df: DataFrame, text_col: str, normalize: str | None
) -> tuple[DataFrame, str, tuple[str, ...]]:
    """Stage the column dedup keys derive from. With ``normalize`` set
    (``"nfc"``/``"nfkc"`` — the COMPOSITION forms, the ones useful as
    dedup keys), keys are computed over the UAX #15-normalized text so
    composition variants ("é" precomposed vs "e"+combining-acute)
    collide — the multilingual-dedup prerequisite
    (functions/unicodenorm.py) — while OUTPUT rows keep the original
    text untouched. Default ``None`` is byte-exact on the raw text
    (parity-preserving: every oracle-gated row uses the default).
    The decomposed forms (nfd/nfkd) are REJECTED here: they produce
    keys no downstream consumer wants and the DuckDB mirror
    (unicode_normalize_sql → nfc_normalize) could never replay them;
    of the accepted forms, only ``nfc`` is cross-engine replayable —
    an nfkc-keyed dedup is Spark-side only (fine for the curation
    pipeline, not for an oracle-gated row)."""
    if normalize is None:
        return df, text_col, ()
    if normalize.lower() not in ("nfc", "nfkc"):
        raise ValueError(
            f"dedup normalize must be 'nfc' or 'nfkc' (composition "
            f"forms), got {normalize!r} — decomposed keys (nfd/nfkd) "
            f"are not meaningful dedup keys and have no SQL mirror"
        )
    from etl_instagram_spark.functions.unicodenorm import unicode_normalize

    staged = "__dedup_norm_text"
    return (
        df.withColumn(
            staged, unicode_normalize(F.col(text_col), normalize.upper())
        ),
        staged,
        (staged,),
    )


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    normalize: str | None = None,
) -> DataFrame:
    """One row per distinct content (md5 of text), keeping the smallest id
    — deterministic regardless of partitioning. ``normalize`` computes
    the content hash over UAX #15-normalized text (default off — see
    :func:`_staged_dedup_text`)."""
    src, key_col, staged = _staged_dedup_text(df, text_col, normalize)
    return (
        src.withColumn("__h", F.md5(F.col(key_col)))
        .withColumn("__keep", F.min(id_col).over(Window.partitionBy("__h")))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__h", "__keep", *staged)
    )


# For rows-per-band ≤ 2 the band hash is the exact (injective) base-2^31
# digit pack: sig values are < HASH_PRIME < 2^31, so hi*2^31 + lo < 2^62
# fits int64 with zero collisions. For rows > 2 that pack overflows int64
# (pyspark 4 ANSI mode throws ARITHMETIC_OVERFLOW), so we fold modularly:
# h = (h*MULT + sig) % HASH_PRIME, mirroring functions.text.affine_hash.
# Intermediate magnitude is < HASH_PRIME * MULT ≈ 2^51 — always safe.
_BAND_FOLD_MULT = 1_000_003


def _band_hashes(sig: Column, k: int, bands: int) -> Column:
    rows = k // bands
    out = []
    for j in range(bands):
        h = sig[j * rows]
        if rows == 2:
            h = h * F.lit(2**31) + sig[j * rows + 1]
        elif rows > 2:
            for r in range(1, rows):
                h = (h * F.lit(_BAND_FOLD_MULT) + sig[j * rows + r]) % F.lit(T.HASH_PRIME)
        out.append(h)
    return F.array(*out)


def band_hash_sql(sig_expr: str, k: int, bands: int) -> str:
    """DuckDB expression list mirroring :func:`_band_hashes` exactly —
    oracle SQL for any (k, bands) is generated from the same formula so
    Spark and the oracle can never drift."""
    rows = k // bands
    exprs = []
    for j in range(bands):
        h = f"CAST({sig_expr}[{j * rows + 1}] AS BIGINT)"
        if rows == 2:
            h = f"({h} * {2**31} + {sig_expr}[{j * rows + 2}])"
        elif rows > 2:
            for r in range(1, rows):
                h = f"(({h} * {_BAND_FOLD_MULT} + {sig_expr}[{j * rows + r + 1}]) % {T.HASH_PRIME})"
        exprs.append(h)
    return "[" + ", ".join(exprs) + "]"


# ---------------------------------------------------------------------------
# the MinHash near-duplicate kernel: stage → band join → exact verify. Every
# MinHash face (batch, incremental, fuzzy decontamination) composes these.
# ---------------------------------------------------------------------------


def _stage_minhash(
    df: DataFrame,
    text_col: str,
    k: int,
    bands: int,
    shingle_words: int,
    id_col: str | None = None,
) -> DataFrame:
    """``df`` plus ``__sig`` (the k-slot MinHash signature), ``__sh`` (the
    DISTINCT word-shingle set) and ``__bh`` (the band hashes), all from
    one tokenization per row. With ``id_col``, ``df`` is first cut to
    (``__id``, text) — the batch faces' shape."""
    if id_col is not None:
        df = df.select(F.col(id_col).alias("__id"), F.col(text_col))
    return T.with_minhash_signature(
        df, text_col, "__sig", k, shingle_words, shingles_col="__sh"
    ).withColumn("__bh", _band_hashes(F.col("__sig"), k, bands))


def _band_join(a: DataFrame, b: DataFrame | None = None) -> DataFrame:
    """LSH candidates: each side's ``__bh`` posexplodes to (band_idx,
    band_hash) and the sides EQUI-join on it — O(Σ bucket²), never all
    pairs. Two frames carry every other column of both (names must not
    clash), one row per shared band. One frame with ``__id`` is the
    self-join: distinct (id_a, id_b) with id_a < id_b."""

    def banded(df: DataFrame) -> DataFrame:
        carried = [c for c in df.columns if c != "__bh"]
        # explode an expression, not the bare column: for a generator
        # over a column Spark infers `size(__bh) > 0` and pushes it below
        # the staging projections of an unpinned frame, where it re-runs
        # the whole unstaged MinHash per row (~10x slower candidates)
        bh = F.transform("__bh", lambda h: h)
        return df.select(*carried, F.posexplode(bh).alias("band_idx", "band_hash"))

    if b is not None:
        return (
            banded(a)
            .join(banded(b), ["band_idx", "band_hash"])
            .drop("band_idx", "band_hash")
        )
    one = banded(a.select("__id", "__bh"))
    return (
        one.alias("a")
        .join(
            one.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def _jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two DISTINCT shingle sets: |A∩B| / (|A|+|B|−|A∩B|)
    (no array_union allocation just to take a size); 0.0 for an empty
    union."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)


def _verified(pairs: DataFrame, staged: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) for the ``pairs`` whose exact Jaccard over
    ``staged``'s (``__id``, ``__sh``) sets reaches ``threshold`` — the
    verify joins touch candidate pairs only."""
    sh = staged.select("__id", "__sh")
    return (
        pairs.join(sh.toDF("id_a", "__sha"), "id_a")
        .join(sh.toDF("id_b", "__shb"), "id_b")
        .withColumn("jaccard", _jaccard(F.col("__sha"), F.col("__shb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that collide in ≥1 LSH band.

    P(candidate) = 1 − (1 − J^(k/bands))^bands for Jaccard J.
    """
    return _band_join(_stage_minhash(df, text_col, k, bands, shingle_words, id_col))


def shingle_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    """Exact word n-gram Jaccard similarity of two text columns."""
    sa = F.array_distinct(T.word_shingles(a, n))
    sb = F.array_distinct(T.word_shingles(b, n))
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)


def verified_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """(id_a, id_b) pairs (id_a < id_b) that are LSH candidates AND pass
    the exact shingle-Jaccard ≥ threshold verify — the shared kernel under
    both survivor-style dedup (``near_dedup_losers``) and cluster
    extraction (``duplicate_clusters``). Signatures and shingle sets come
    from one staging pass."""
    staged = _stage_minhash(df, text_col, k, bands, shingle_words, id_col)
    return _verified(_band_join(staged), staged, threshold).select("id_a", "id_b")


def jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_words: int = 3,
) -> DataFrame:
    """EXACT all-pairs n-gram-Jaccard similarity join: every pair
    (id_a < id_b) with word-shingle Jaccard ≥ threshold, with the exact
    similarity — lossless, unlike the MinHash-LSH path (which trades a
    tunable false-negative rate for fewer candidates).

    Prefix filtering (SSJoin/All-Pairs): under one global shingle order,
    a pair with overlap ≥ t must share one of each set's first
    ``|X| − t + 1`` shingles — proof: the smallest common shingle has
    ≥ t−1 common shingles after it in BOTH sets, so it sits within the
    first |X| − (t−1) positions of each. With J ≥ τ forcing overlap
    ≥ ⌈τ·|X|⌉, indexing only each doc's first ``|X| − ⌈τ|X|⌉ + 1``
    shingles makes the inverted-index self-join a complete candidate
    generator. Exact Jaccard on candidates then makes the RESULT exact.

    Scale design (100 TB):
    - the global order is (document frequency ASC, shingle): the hottest
      shingles (boilerplate) sort LAST and fall outside every prefix, so
      the inverted index self-join never sees the skewed keys — the
      frequency ordering is both the candidate-minimizer and the
      skew-killer;
    - at τ=0.8 the prefix is ~20 % of each doc's shingles; candidates
      are O(Σ prefix-bucket²) over COLD shingles only;
    - a size filter (|min| ≥ τ·|max|) prunes length-incompatible pairs
      before the distinct. Float guards are slack-only (1e-9), so
      rounding can never drop a qualifying pair — losslessness is
      pinned by a differential test against the naive all-pairs join.
    """
    if not 0.0 < threshold <= 1.0:
        # τ ≤ 0 would make every prefix the whole shingle set — the
        # "lossless" join silently degrades to the full O(n²) index join
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    shingled = T.with_word_shingles(
        df.select(F.col(id_col), F.col(text_col)),
        text_col,
        "__sh",
        shingle_words,
        distinct=True,
    ).select(
        F.col(id_col).alias("__id"), F.col("__sh"), F.size("__sh").alias("__sz")
    )
    # pin the shingle table: it feeds the inverted index AND both verify
    # sides (4 consumers), and the prefix feeds both halves of the
    # self-join — without pinning, one action re-shingles the corpus per
    # branch. localCheckpoint materializes once on the executors; at
    # cluster scale the equivalent persist(DISK_ONLY) trades one
    # materialization for O(branches) recomputes of a corpus-sized scan.
    shingled = shingled.localCheckpoint(eager=False)
    exploded = shingled.select("__id", "__sz", F.explode("__sh").alias("__s"))
    dfreq = exploded.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__s")
    # required overlap t = ceil(τ·sz); the −1e-9 slack keeps float fuzz
    # from OVERestimating t (which would shorten the prefix and lose
    # pairs) — underestimating only lengthens it (safe)
    t_req = F.ceil(F.lit(threshold) * F.col("__sz") - 1e-9)
    prefix = (
        exploded.join(dfreq, "__s")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__sz") - t_req + 1)
        .select("__s", "__id", "__sz", "__rk")
    ).localCheckpoint(eager=False)
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (Xiao et al.): a match at prefix ranks
    # (rka, rkb) caps the pair's possible overlap at
    # min(sza−rka, szb−rkb)+1 — the smallest common shingle's match has
    # the loosest cap, so filtering per-match BEFORE the distinct keeps
    # every qualifying pair (that match always passes) while dropping
    # pairs that merely brush prefixes late. t_pair = τ/(1+τ)·(sza+szb)
    # is the overlap J ≥ τ forces; −1e-9 keeps the float compare
    # prune-only. This is the candidate-killer: without it the τ=0.5
    # prefix is half of every doc and the verify join dominates.
    overlap_cap = (
        F.least(
            F.col("a.__sz") - F.col("a.__rk"), F.col("b.__sz") - F.col("b.__rk")
        )
        + 1
    )
    t_pair = (
        F.lit(threshold)
        / (1.0 + threshold)
        * (F.col("a.__sz") + F.col("b.__sz"))
    )
    cands = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id"))
            # J ≥ τ ⟹ min size ≥ τ·max size; +1e-9 slack: prune-only
            & (F.col("a.__sz") + 1e-9 >= F.lit(threshold) * F.col("b.__sz"))
            & (F.col("b.__sz") + 1e-9 >= F.lit(threshold) * F.col("a.__sz"))
            & (overlap_cap >= t_pair - 1e-9),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    # Verify in two tiers. Tier 1: intersect 64-bit shingle hashes —
    # each shingle hashed ONCE per doc (not once per pair), and the
    # per-pair intersect runs on primitive long arrays instead of
    # strings (~5× cheaper measured). Equal strings always hash equal,
    # so the hashed overlap can only miscount when two DISTINCT shared
    # shingles collide in 64 bits (~2^-64 per shingle pair — the one
    # probabilistic assumption in this operator's completeness; cross-doc
    # collisions between non-shared shingles only inflate, which is
    # harmless). Tier 2: exact string-shingle Jaccard on the few tier-1
    # survivors, so the RESULT values are exact string similarity.
    hashed = shingled.withColumn(
        "__shh", F.transform(F.col("__sh"), lambda s: F.xxhash64(s))
    )
    h_a = hashed.select(
        F.col("__id").alias("id_a"),
        F.col("__shh").alias("__ha"),
        F.col("__sz").alias("__sza"),
    )
    h_b = hashed.select(
        F.col("__id").alias("id_b"),
        F.col("__shh").alias("__hb"),
        F.col("__sz").alias("__szb"),
    )
    inter_h = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    pair_t = (
        F.lit(threshold)
        / (1.0 + threshold)
        * (F.col("__sza") + F.col("__szb"))
    )
    survivors = (
        cands.join(h_a, "id_a")
        .join(h_b, "id_b")
        .filter(inter_h >= pair_t - 1e-9)
        .select("id_a", "id_b")
    )
    return _verified(survivors, shingled, threshold)


def near_dedup_losers(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    normalize: str | None = None,
) -> DataFrame:
    """The ids ``near_dedup_minhash`` drops (docs with a verified
    near-duplicate of smaller id) — exposed separately so callers that
    only need drop STATS can aggregate in a single action instead of
    re-running the whole pipeline per count. ``normalize`` runs
    signatures AND the exact-Jaccard verify over UAX #15-normalized
    text (default off — see :func:`_staged_dedup_text`)."""
    src, sig_col, _ = _staged_dedup_text(df, text_col, normalize)
    verified = verified_duplicate_pairs(
        src, id_col, sig_col, threshold, k, bands, shingle_words
    )
    return verified.select(F.col("id_b").alias(id_col)).distinct()


def near_dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    normalize: str | None = None,
) -> DataFrame:
    """Drop docs that have a verified near-duplicate with a smaller id.

    candidates (LSH) → exact Jaccard ≥ threshold verify → left-anti drop.
    Only candidate pairs pay the verify cost; the final anti-join is on the
    id key. ``normalize`` matches composition variants as duplicates
    (default off — see :func:`_staged_dedup_text`); survivors keep
    their original text either way.
    """
    losers = near_dedup_losers(
        df, id_col, text_col, threshold, k, bands, shingle_words, normalize
    )
    return df.join(losers, on=id_col, how="left_anti")


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a duplicate-pair edge list: returns
    (id, component) where ``component`` is the smallest id reachable
    through any chain of pairs — the full transitive closure that the
    single-pass keep-smallest-id survivor rule deliberately skips.
    Use it when clusters themselves are the product (dup-cluster size
    distributions, picking a canonical doc per cluster, provenance).

    Iterative min-label propagation, O(graph diameter) rounds (dup
    clusters are shallow — boilerplate families link through a hub, so
    3-5 rounds typically converge):

    - each round is one join (edges ⋈ labels) + one groupBy-min — the
      standard DataFrame CC kernel; both shuffle on the id key,
    - labels are ``localCheckpoint``-ed per round, which truncates the
      otherwise exponentially deepening lineage (the classic iterative-
      algorithm failure mode on Spark),
    - convergence is detected with a count of changed labels per round
      (one extra action over the just-materialized checkpoint — cheap).

    At extreme skew (one component containing most of the graph) the
    large-star/small-star variant halves round count; the plain kernel is
    kept here because dup graphs are wide, not deep."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    a, b = F.col(id_a), F.col(id_b)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .union(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # reused every round — pin it
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        propagated = (
            edges.join(labels, edges.src == labels.id)
            .select(
                F.col("dst").alias("id"),
                "component",
                F.lit(None)
                .cast(labels.schema["component"].dataType)
                .alias("__old"),
            )
        )
        # carry each id's PREVIOUS label through the union-agg (__old:
        # non-null only on the labels row, so max() recovers it — every
        # node has a labels row because the edge list is symmetric);
        # convergence then reads off the just-checkpointed frame as one
        # shuffle-free scan instead of a per-round labels⋈labels join
        # (r19: the join + its exchanges was half of every CC round)
        new_labels = (
            labels.select(
                "id", "component", F.col("component").alias("__old")
            )
            .union(propagated)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max("__old").alias("__old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("component") != F.col("__old")
        ).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    else:
        # returning intermediate labels would silently split one chain
        # into several "components" — wrong answers, not slow answers
        raise RuntimeError(
            f"dedup_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); the duplicate "
            "graph's diameter exceeds max_iter — raise max_iter"
        )
    return labels


def dedup_components_alternating(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components via the alternating large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014): same (id, component=min reachable id) contract
    as :func:`dedup_components`, but converging in O(log n) rounds
    instead of O(graph diameter).

    When to prefer which: :func:`dedup_components` (min-label
    propagation) does one join + one groupBy per round and wins on the
    SHALLOW graphs dup clusters usually form (hub-linked boilerplate
    families, 3-5 rounds). This variant is the scale path for DEEP
    graphs — chained near-duplicates (v1→v2→…→vN of an edited page)
    give min-label a round per hop, while star contraction collapses
    any chain in logarithmic rounds. Both are fully distributed; the
    driver loop only counts rounds.

    Per round (all key-equi shuffles, lineage truncated by a
    localCheckpoint on the new edge set):

    - large-star: for every node u, every LARGER neighbor v re-points
      to u's minimum incident node m = min(Γ(u) ∪ {u}) — one symmetric
      edge expansion, one groupBy-min, one join back,
    - small-star: every smaller-or-self neighbor of u re-points to u's
      minimum smaller neighbor — same shape on the directed
      (larger→smaller) list,
    - fixed point when the edge set stops changing (it is then a set of
      stars child→root); detected with two anti-join counts on the
      checkpointed frames.

    Every id appearing in some pair is labeled (the
    :func:`dedup_components` convention — a node seen only in
    self-pairs is its own singleton component)."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    a, b = F.col(id_a), F.col(id_b)
    # canonical directed larger→smaller start set (the small-star shape)
    edges = (
        pairs.filter(a != b)
        .select(
            F.greatest(a, b).alias("u"), F.least(a, b).alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # large-star: symmetric neighborhoods; larger neighbors → min
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins_l = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            sym.join(mins_l, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the (larger→smaller) output of large-star:
        # every smaller neighbor AND u itself re-point to the minimum
        mins_s = large.groupBy("u").agg(F.min("v").alias("m"))
        with_min = large.join(mins_s, "u")
        new_edges = (
            with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(with_min.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = (
            new_edges.join(edges, ["u", "v"], "left_anti").count()
            + edges.join(new_edges, ["u", "v"], "left_anti").count()
        )
        edges = new_edges
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_components_alternating did not converge within "
            f"max_iter={max_iter} rounds ({changed} edges still moving) "
            "— raise max_iter"
        )
    labeled = edges.select(
        F.col("u").alias("id"), F.col("v").alias("component")
    ).union(
        edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
    )
    # nodes the contraction never touched (self-pairs only, or isolated
    # after the self-pair filter) are their own singleton components
    singletons = (
        pairs.select(a.alias("id"))
        .union(pairs.select(b.alias("id")))
        .distinct()
        .join(labeled, "id", "left_anti")
    )
    return labeled.union(
        singletons.select("id", F.col("id").alias("component"))
    ).distinct()


def duplicate_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Near-duplicate CLUSTERS over documents: LSH candidates → exact
    Jaccard verify → connected components. Returns every doc that belongs
    to a duplicate cluster as (id, component); docs with no verified
    duplicate are absent (they are their own singleton, not re-listed —
    at scale the overwhelmingly common case, so the output stays
    O(duplicates), not O(corpus))."""
    verified = verified_duplicate_pairs(
        df, id_col, text_col, threshold, k, bands, shingle_words
    )
    return dedup_components(verified).withColumnRenamed("id", id_col)


def near_dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    prefer: Column | None = None,
) -> DataFrame:
    """Near-dedup keeping the BEST doc per duplicate cluster (vs
    :func:`near_dedup_minhash`'s keep-smallest-id): LSH candidates →
    exact-Jaccard verify → connected components → per-cluster argmax of
    ``prefer`` (default: text length), ties to the smallest id. Use it
    when cluster members differ in quality — the min-id survivor rule
    keeps whichever duplicate happened to be ingested first; this keeps
    the one worth training on.

    The survivor set differs from the pairwise rule in shape too: one
    keeper per TRANSITIVE cluster (a chain a~b, b~c with a≁c keeps
    exactly one of the three, where the pairwise rule can keep two).

    Scale: the components run over the O(duplicates) verified-pair
    list, never the corpus; the argmax window partitions by component
    (bounded groups); docs in no cluster bypass everything via one
    left-anti join on the id key. The cross-engine certification of
    the cluster/representative math is the gate row
    ``docs_dup_cluster_reps`` (plans/q_docs.py)."""
    clusters = duplicate_clusters(
        df, id_col, text_col, threshold, k, bands, shingle_words
    )
    pref = prefer if prefer is not None else F.length(F.col(text_col))
    w = Window.partitionBy("component").orderBy(
        pref.desc(), F.col(id_col).asc()
    )
    losers = (
        df.join(clusters, id_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on either 32-bit half (exact-half
    collision), then verify Hamming distance over the full 64 bits.

    A pair within max_hamming ≤ 32 bit flips that all land in one half is
    still caught by the other half's exact match; recall is the standard
    two-table SimHash trade-off.
    """
    sim = df.select(
        F.col(id_col).alias("__id"), T.simhash(F.col(text_col)).alias("__sim")
    )
    halves = sim.select(
        "__id", "__sim", F.posexplode(F.col("__sim")).alias("half_idx", "half_val")
    )
    a = halves.alias("a")
    b = halves.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.half_idx") == F.col("b.half_idx"))
            & (F.col("a.half_val") == F.col("b.half_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            T.simhash_hamming(F.col("a.__sim"), F.col("b.__sim")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def near_dedup_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.97,
    bits: int = 8,
    multi_probe_hamming: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup dedup: drop rows whose vector is within
    ``threshold`` cosine of a smaller-id row.

    Candidates come from hyperplane-LSH buckets (plus Hamming-adjacent
    buckets for recall) — never an all-pairs join; the exact cosine
    verify runs only inside buckets. Same survivor semantics as
    near_dedup_minhash (single-pass, keep-smallest-id).

    Pass ``dim`` when the embedding dimensionality is known: otherwise
    it is probed with a ``first()`` — an extra scan-stage action.
    """
    from etl_instagram_spark.operators.similarity import (
        as_double,
        dot,
        hyperplane_signs,
        lsh_bucket,
    )

    if dim is None:
        first_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first_row is None:
            return df
        dim = first_row["d"]
    planes = hyperplane_signs(bits, dim)
    # norm is per-ROW (computed once in the scan stage), so the per-PAIR
    # verify below is a single dot product instead of three — at O(Σ
    # bucket²) pairs that is the dominant cost of the operator
    v = as_double(F.col(vec_col))
    # pinned: BOTH self-join branches (direct and multi-probe) read this
    # frame, and without the pin each re-evaluates the bits×dim
    # hyperplane projection and the norm — at small row counts the
    # duplicated plan tree also doubles analysis time (r19)
    bucketed = df.select(
        F.col(id_col).alias("__id"),
        v.alias("__v"),
        F.sqrt(dot(v, v)).alias("__n"),
        lsh_bucket(vec_col, planes).alias("__b"),
    ).localCheckpoint(eager=False)
    if multi_probe_hamming > 0:
        # probe adjacent buckets by replicating each row into every
        # bucket within the Hamming radius (dim side of the self-join)
        offsets = [
            b for b in range(1 << bits) if bin(b).count("1") <= multi_probe_hamming
        ]
        probed = bucketed.withColumn(
            "__pb",
            F.explode(F.array(*[F.col("__b").bitwiseXOR(F.lit(o)) for o in offsets])),
        )
    else:
        probed = bucketed.withColumn("__pb", F.col("__b"))

    a = bucketed.alias("a")
    b = probed.alias("b")
    # zero-norm guard: 0/0 is NaN, and Spark orders NaN ABOVE every
    # double, so an unguarded `NaN >= threshold` would silently drop an
    # all-zero embedding as a duplicate of any bucket-mate. A zero
    # vector has no direction — define its cosine to anything as 0.
    norm_prod = F.col("a.__n") * F.col("b.__n")
    pairs = a.join(
        b,
        (F.col("a.__b") == F.col("b.__pb")) & (F.col("a.__id") < F.col("b.__id")),
    ).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        F.when(
            norm_prod > 0, dot(F.col("a.__v"), F.col("b.__v")) / norm_prod
        ).otherwise(F.lit(0.0)).alias("cos"),
    ).distinct()
    losers = pairs.filter(F.col("cos") >= threshold).select(
        F.col("id_b").alias(id_col)
    ).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    cell_col: str | None = None,
) -> DataFrame:
    """Within-cluster cosine-scored pairs for SemDeDup-style semantic
    dedup: assign every row to its nearest coarse-quantizer centroid,
    then score ONLY same-cell pairs (id_a < id_b) — the published
    SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embeddings, compare pairs inside each cluster, never across.

    Contrast with ``near_dedup_embeddings``: hyperplane buckets are
    data-INDEPENDENT (fixed signs, multi-probe for recall), while the
    quantizer here is fit to the corpus geometry, so cells track actual
    density — semantically-close rows land together without probing.
    Cross-cell near-dups are missed BY DESIGN; that is the algorithm's
    documented trade (its clusters are its candidate blocks).

    Scale shape (100 TB): cell assignment is a pure column expression
    over literal centroids (similarity.ivf_cell — no model object, no
    UDF); candidates come from a self-equi-join on the cell id, so pair
    count is O(Σ cell²) not O(n²), bounded by fitting enough centroids
    that cells stay executor-sized (SemDeDup itself uses k=11k clusters
    for LAION-scale; AQE skew-join splits any hot cell). Pass
    ``cell_col`` when the table already carries an ingest-time cell
    stamp — the same stored-column pruning contract as
    ``similarity.ann_ivf_topk``, saving the assignment arithmetic and
    keeping the fit corpus-versioned.

    The per-pair dot product is a zip_with/aggregate HOF — interpreted,
    not codegen'd; an Arrow-batched numpy dot measured ~2.5× faster on
    250k 64-dim pairs but sums in a different order (numpy pairwise vs
    sequential), breaking the bit-level DuckDB replay this operator's
    gate relies on. JVM-side is the deliberate choice: raising
    n_clusters shrinks the pair count quadratically and is the
    published algorithm's own scaling lever.

    Returns (id_a, id_b, cell, cos) with cos rounded to 6 places — the
    rounding makes the downstream threshold compare replayable on any
    engine whose float64 sums match to 1e-6 instead of bit-exactly.
    """
    from etl_instagram_spark.operators.similarity import as_double, dot, ivf_cell

    v = as_double(F.col(vec_col))
    cell = F.col(cell_col) if cell_col else ivf_cell(vec_col, centroids)
    scored = df.select(
        F.col(id_col).alias("__id"),
        v.alias("__v"),
        F.sqrt(dot(v, v)).alias("__n"),
        cell.alias("__c"),
    )
    a, b = scored.alias("a"), scored.alias("b")
    norm_prod = F.col("a.__n") * F.col("b.__n")
    # zero-norm guard: same NaN-orders-above-everything hazard as
    # near_dedup_embeddings — a zero vector has no direction, cosine 0
    return a.join(
        b,
        (F.col("a.__c") == F.col("b.__c")) & (F.col("a.__id") < F.col("b.__id")),
    ).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        F.col("a.__c").alias("cell"),
        F.round(
            F.when(
                norm_prod > 0, dot(F.col("a.__v"), F.col("b.__v")) / norm_prod
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("cos"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    cell_col: str | None = None,
) -> DataFrame:
    """SemDeDup survivors: drop rows whose embedding is within
    ``threshold`` cosine of a smaller-id row in the SAME quantizer cell
    (keep-smallest-id, single pass — the near_dedup_minhash survivor
    rule applied to ``semantic_dedup_pairs`` candidates). Fit
    ``centroids`` once with ``similarity.fit_ivf_centroids`` and reuse
    across batches so the dedup decision is stable under corpus growth.
    """
    losers = (
        semantic_dedup_pairs(df, id_col, vec_col, centroids, cell_col=cell_col)
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# incremental near-dedup against a persistent signature store
# ---------------------------------------------------------------------------


def signature_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """One row per doc for the signature store: (id, sig, band_hashes).
    O(k + bands) bigints per doc — the corpus's dedup history WITHOUT
    retaining any text."""
    return _stage_minhash(df, text_col, k, bands, shingle_words).select(
        F.col(id_col),
        F.col("__sig").alias("sig"),
        F.col("__bh").alias("band_hashes"),
    )


def incremental_near_dedup(
    incoming: DataFrame,
    store: MergeTable,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Near-dedup a NEW batch against the corpus's whole dedup history,
    then fold the survivors' signatures into the store — the production
    shape at 100 TB: the daily delta is deduped against a compact
    signature table (O(k) bigints per historical doc, no text), never by
    re-scanning the full corpus.

    Three stages:

    1. WITHIN-batch near-dedup — the full ``near_dedup_minhash`` path
       (banded LSH candidates → EXACT shingle-Jaccard verify), since the
       batch's text is in hand.
    2. CROSS-history: batch survivors' band hashes join the store's
       (posexploded) bands; colliding pairs are verified by MinHash
       signature agreement — the unbiased Jaccard estimator
       E[matching components / k] = J, std ≈ sqrt(J(1-J)/k) (~0.12 at
       the default k=16; raise k when the threshold needs to cut finer).
       Exact and near-exact dups estimate at/near 1.0 regardless.
    3. The survivors' signature rows UPSERT into the store keyed by id.

    Replay-safe: a re-ingested batch's own store entries are excluded by
    id (a doc is never its own duplicate), within-batch losers lose
    again, and the id-keyed upsert overwrites rather than duplicates —
    re-running a crashed tick converges to the same survivors and the
    same store. Ids must be unique across the corpus (the upsert key).

    (k, bands) are validated against the store's actual signature shape
    — a mismatch would silently break both the band join and the
    estimator AND corrupt the store for future ticks. shingle_words
    cannot be recovered from signatures; keep it constant per store.
    """
    # Stage signature + band hashes + distinct shingle set ONCE over the
    # batch and pin THAT (r19): the old shape computed MinHash twice
    # (candidates, then signature_rows over survivors), re-shingled the
    # raw batch for the verify, and paid three eager checkpoints
    # (survivors, sigs, dup ids) plus the upserts' internal pins — at
    # tick latency the job count, not the bytes, was the cost. Every
    # downstream consumer (LSH candidates, exact-Jaccard verify, the
    # cross-history band join, the store rows, the returned survivors)
    # now reads ONE pinned frame; the store/clean upserts ride
    # ``assume_pinned`` on deterministic derivations of it.
    # fan the batch out before the CPU-heavy staging when the source
    # delivered it in few partitions (a landing dir's file count): the
    # tokenize+minhash pass is the tick's dominant compute and would
    # otherwise run on that few cores (r19; the gate queries' _spread
    # rule applied to the streaming batch). Keyed work downstream is
    # partition-independent, so placement cannot change survivors.
    sc = incoming.sparkSession.sparkContext
    if incoming.rdd.getNumPartitions() < max(2, sc.defaultParallelism // 2):
        incoming = incoming.repartition(sc.defaultParallelism)
    staged = _stage_minhash(incoming, text_col, k, bands, shingle_words)
    staged = staged.localCheckpoint(eager=True)
    # within-batch near-dedup: the exact near_dedup_minhash semantics
    # (LSH band collisions → exact shingle-Jaccard ≥ threshold → drop
    # the larger id), evaluated over the staged columns
    batch = staged.select(F.col(id_col).alias("__id"), "__bh", "__sh")
    losers = (
        _verified(_band_join(batch), batch, threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    survivors = staged.join(losers, on=id_col, how="left_anti")

    if store.exists():
        hist = store.read()
        shape = hist.select(
            F.size("sig").alias("k"), F.size("band_hashes").alias("b")
        ).first()
        if shape is not None and (shape["k"] != k or shape["b"] != bands):
            raise ValueError(
                f"store was built with k={shape['k']}, bands={shape['b']}; "
                f"called with k={k}, bands={bands} — signatures are not comparable"
            )
        hist_sigs = hist.select(
            F.col(id_col).alias("__old_id"),
            F.col("sig").alias("__old_sig"),
            F.col("band_hashes").alias("__bh"),
        )
        new_sigs = survivors.select(
            F.col(id_col).alias("__new_id"),
            F.col("__sig").alias("__new_sig"),
            "__bh",
        )
        est = (
            F.size(
                F.filter(
                    F.zip_with("__new_sig", "__old_sig", lambda a, b: a == b),
                    lambda x: x,
                )
            )
            / F.lit(k)
        )
        dup_new_ids = (
            _band_join(new_sigs, hist_sigs)
            .filter(F.col("__new_id") != F.col("__old_id"))
            .select("__new_id", "__new_sig", "__old_sig")
            .distinct()
            .filter(est >= F.lit(threshold))
            .select(F.col("__new_id").alias(id_col))
            .distinct()
        )
        survivors = survivors.join(dup_new_ids, id_col, "left_anti")

    # ONE pin of the final survivor set (it feeds the store upsert, the
    # caller's clean-table upsert, and the caller's own actions); both
    # store row projection and the returned frame are deterministic
    # column-level derivations of it, so the upsert can assume_pinned.
    # Lazy (r20): the store upsert's overlap probe is the first
    # consumer and materializes it — single scan, no race — saving the
    # eager pin's dedicated job barrier on a job-count-bound tick
    survivors = survivors.localCheckpoint(eager=False)
    sigs = survivors.select(
        F.col(id_col),
        F.col("__sig").alias("sig"),
        F.col("__bh").alias("band_hashes"),
    )
    store.upsert(
        sigs.withColumn("updated_at", F.current_timestamp()),
        assume_pinned=True,
    )
    return survivors.drop("__sig", "__bh", "__sh")


def incremental_exact_dedup(
    incoming: DataFrame,
    store: MergeTable,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact-dedup a NEW batch against the corpus's whole history via a
    compact content-hash store — the incremental sibling of
    :func:`exact_dedup` (which is a per-snapshot operator) and of
    :func:`incremental_near_dedup` (which pays signatures for fuzziness
    this operator doesn't need).

    Semantics: within the batch, smallest id per content wins (same rule
    as exact_dedup); across batches, FIRST-SEEN content wins — a later
    doc with already-stored content is dropped regardless of id (ids
    only tie-break within one batch, where arrival order doesn't exist).

    The store is keyed by ``content_hash`` (md5), so the history probe
    rides MergeTable.read_overlapping's file-range pruning: a tick reads
    only store files whose hash range can contain a batch hash — O(batch),
    not O(corpus), exactly like the ingest pipelines' anti-joins.

    Replay-safe: within-batch winners are deterministic; a replayed
    winner finds its own (hash → id) row in the store and survives the
    different-id check; the hash-keyed upsert overwrites rather than
    duplicates. Ids must be unique across the corpus.
    """
    hashed = incoming.withColumn("__h", F.md5(F.col(text_col)))
    winners = (
        hashed.withColumn("__keep", F.min(id_col).over(Window.partitionBy("__h")))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
        .localCheckpoint(eager=True)
    )
    if store.exists():
        hist = store.read_overlapping(
            winners.select(F.col("__h").alias("content_hash"))
        ).select(
            F.col("content_hash").alias("__h"), F.col(id_col).alias("__hist_id")
        )
        taken = (
            winners.join(hist, "__h")
            .filter(F.col(id_col) != F.col("__hist_id"))
            .select(id_col)
            .distinct()
        )
        survivors = winners.join(taken, id_col, "left_anti")
    else:
        survivors = winners
    survivors = survivors.localCheckpoint(eager=True)
    store.upsert(
        survivors.select(F.col("__h").alias("content_hash"), F.col(id_col))
    )
    return survivors.drop("__h")


def semantic_store_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    cell_col: str | None = None,
) -> DataFrame:
    """One row per doc for the semantic-dedup store: (id, cell, unit) —
    the UNIT-normalized embedding plus its quantizer cell, O(dim)
    doubles per historical doc and no raw text/embedding retention
    beyond the direction. Unit vectors make the store-side verify a
    bare dot product (norms are 1 by construction); a zero vector
    stores as all-zero, whose dot with anything is 0 — the same
    no-direction-never-duplicate convention as the batch path."""
    from etl_instagram_spark.operators.similarity import as_double, dot, ivf_cell

    v = as_double(F.col(vec_col))
    n = F.sqrt(dot(v, v))
    cell = F.col(cell_col) if cell_col else ivf_cell(vec_col, centroids)
    return df.select(
        F.col(id_col),
        cell.alias("cell"),
        F.when(n > 0, F.transform(v, lambda x: x / n))
        .otherwise(F.transform(v, lambda x: x * 0.0))
        .alias("unit"),
    )


def incremental_semantic_dedup(
    incoming: DataFrame,
    store: MergeTable,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    cell_col: str | None = None,
) -> DataFrame:
    """SemDeDup a NEW batch against the corpus's semantic history, then
    fold the survivors into the store — the incremental face of
    :func:`semantic_dedup`, completing the family the MinHash path
    already has (``incremental_near_dedup``): the daily delta is
    deduped against a compact (id, cell, unit-vector) table, never by
    re-scanning or re-embedding the corpus.

    Stages: (1) within-batch ``semantic_dedup``; (2) cross-history —
    batch survivors equi-join the store on the cell id (same candidate
    blocking as the batch path) and drop any row within ``threshold``
    cosine (a bare dot of unit vectors, rounded to 6) of a DIFFERENT
    id's historical entry; (3) the survivors' store rows upsert by id.

    Replay-safe like the MinHash variant: a re-ingested doc's own store
    entry is excluded by id, within-batch losers lose again, and the
    id-keyed upsert overwrites — a crashed tick re-run converges to the
    same survivors and store. Ids must be corpus-unique.

    The quantizer is part of the store's identity: ``centroids`` must
    stay FROZEN for the store's lifetime (same contract as
    shingle_words for the signature store — fit once with
    ``similarity.fit_ivf_centroids``, persist, reuse). The embedding
    dimensionality is validated against the store; centroid values
    cannot be recovered from store rows, so a changed quantizer is the
    caller's responsibility.
    """
    from etl_instagram_spark.operators.similarity import dot

    survivors = semantic_dedup(
        incoming, id_col, vec_col, centroids, threshold, cell_col
    ).localCheckpoint(eager=True)
    rows = semantic_store_rows(
        survivors, id_col, vec_col, centroids, cell_col
    ).localCheckpoint(eager=True)

    if store.exists():
        hist = store.read()
        dims = (
            rows.select(F.size("unit").alias("d")).first(),
            hist.select(F.size("unit").alias("d")).first(),
        )
        if dims[0] is not None and dims[1] is not None and dims[0]["d"] != dims[1]["d"]:
            raise ValueError(
                f"store holds {dims[1]['d']}-dim units; batch embeddings are "
                f"{dims[0]['d']}-dim — not comparable"
            )
        new_side = rows.select(
            F.col(id_col).alias("__new_id"),
            F.col("cell").alias("__c"),
            F.col("unit").alias("__new_u"),
        )
        old_side = hist.select(
            F.col(id_col).alias("__old_id"),
            F.col("cell").alias("__c"),
            F.col("unit").alias("__old_u"),
        )
        losers = (
            new_side.join(old_side, "__c")
            .filter(F.col("__new_id") != F.col("__old_id"))
            .filter(
                F.round(dot(F.col("__new_u"), F.col("__old_u")), 6)
                >= F.lit(threshold)
            )
            .select(F.col("__new_id").alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
        survivors = survivors.join(losers, id_col, "left_anti")
        rows = rows.join(losers, id_col, "left_anti")

    store.upsert(rows.withColumn("updated_at", F.current_timestamp()))
    return survivors
