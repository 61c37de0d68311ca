"""Graph representation learning preprocessing: walk co-occurrence
statistics, PPMI weighting, and deterministic random-projection node
embeddings.

Why this operator family in a data-curation engine: web-scale corpus
pipelines embed their source/entity graphs (domains linking domains,
users interacting with users) to cluster, dedup, and stratify sources
by STRUCTURE, not just by text — and the classic training-free way to
get those embeddings is exactly this chain: DeepWalk-style random-walk
corpora (Perozzi et al., KDD'14), skip-gram co-occurrence counts, PPMI
weighting (Levy & Goldberg, NIPS'14 — SGNS factorizes the shifted PMI
matrix, so the PPMI matrix IS the embedding signal), and a
Johnson-Lindenstrauss ±1 random projection (Achlioptas, PODS'01) to
compress the sparse PPMI rows into a dense ``array<double>`` that the
engine's existing similarity operators (operators/similarity.py cosine
top-k / ANN / near-dup) consume directly. The reference has no graph
surface — this is an engine-native scale extension (SURVEY §7), the
completion of the walk corpus that operators/graph.py::random_walks
already generates (first-order DeepWalk walks, or node2vec-biased ones
through its return_w/common_w/far_w keywords).

Spark-first design:

- co-occurrence never self-joins the walk corpus: walks are grouped
  once per walk_id (rows per walk ≤ walk_len+1, a hard bound) and the
  window pairs are generated IN-ARRAY with one nested higher-order
  ``transform``/``filter`` — one shuffle to group, one counting shuffle
  on (src, ctx); the 100 TB walk corpus moves once,
- PPMI is two marginal aggregations (map-side partial combine) joined
  back on their keys plus one broadcast 1-row total — no all-pairs
  step anywhere,
- the projection explodes each positive-PPMI cell into ``dim`` signed
  integer contributions and sums them with one (node, d) hash
  aggregation — rows = cells × dim, embarrassingly parallel, and the
  per-key state is one int64.

Exactness across engines (the DuckDB-mirror discipline of
operators/graph.py): every count and marginal is int64; the single
float boundary is PPMI's ``ln`` of one exactly-rounded double ratio,
immediately quantized to integer micro-units (``round(ppmi·10^6)``, the
same 6-decimal precision the certified BM25 scores replay at). After
quantization EVERYTHING is exact again: signed int64 sums (order-free),
one exactly-rounded division back to double, an IEEE ``sqrt`` (required
correctly-rounded on both engines), and one division per dimension — so
the emitted embedding floats are pure functions of the integer q-values
under any partitioning, executor count, or engine. The residual risk is
the known 1-ulp ``ln`` divergence between the JVM and libm: a q-value
flips only when ppmi·10^6 lands within ~2e-9 of a rounding boundary
(the BM25 precedent accepts the same window; the parity suite would
surface a flip as a value mismatch, never silently).

Signs are hash-derived, not RNG-derived: R[ctx, d] = +1 iff
hash32("seed" ⊕ ctx ⊕ d) is even (functions/text.hash32, the
engine-neutral md5 kernel) — replayable by construction, identical in
the :func:`walk_embeddings_sql` mirror.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PPMI_QUANT = 1_000_000


def walk_cooccurrence(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Skip-gram co-occurrence counts over a walk corpus: for every walk
    and every ordered position pair (i, j) with ``0 < |i - j| <=
    window``, count (node_i → node_j). Input is the (walk_id, step,
    node) frame :func:`operators.graph.random_walks` emits, first-order
    or node2vec-biased (steps are contiguous from 0; shorter stopped
    walks just contribute fewer pairs). A node revisited by a walk co-occurs with itself —
    positional semantics, the standard skip-gram convention.

    Output: (src, ctx, cnt) with both directions present (the position
    pair set is symmetric), so marginals over src and ctx coincide on
    undirected corpora.

    Scale: one groupBy(walk_id) whose per-key state is ≤ walk_len+1
    structs, pair generation in-array via nested higher-order
    transform/filter (≤ 2·window pairs per position), one counting
    groupBy(src, ctx) with map-side partial aggregation. No self-join —
    the walk corpus is shuffled exactly once. DuckDB mirror:
    :func:`walk_cooccurrence_sql` (which replays the same pair set with
    a step-equi self-join — cheap at oracle scale, value-identical
    because step == array position)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    seqs = walks.groupBy("walk_id").agg(
        F.sort_array(F.collect_list(F.struct("step", "node"))).alias("sq")
    )
    pairs = F.flatten(
        F.expr(
            "transform(sq, x -> transform("
            f" filter(sq, y -> y.step != x.step"
            f"  AND abs(y.step - x.step) <= {int(window)}),"
            "  y -> struct(x.node AS src, y.node AS ctx)))"
        )
    )
    return (
        seqs.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.src").alias("src"), F.col("p.ctx").alias("ctx"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def walk_cooccurrence_sql(window: int = 2, walks: str = "walks") -> str:
    """CTE-chain SQL mirror of :func:`walk_cooccurrence` (DuckDB),
    ending in a ``cooc`` CTE. Expects a ``walks`` CTE with (walk_id,
    step, node) — :func:`operators.graph.random_walks_sql` and
    :func:`operators.graph.node2vec_walks_sql` each produce one. The mirror pairs by STEP with a self-join (value-identical to
    the in-array positional generation: steps are contiguous from 0)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    return (
        f"cooc AS (SELECT a.node AS src, b.node AS ctx,"
        f" count(*)::BIGINT AS cnt"
        f" FROM {walks} a JOIN {walks} b ON a.walk_id = b.walk_id"
        f"  AND a.step <> b.step AND abs(a.step - b.step) <= {int(window)}"
        f" GROUP BY 1, 2)"
    )


def ppmi_scores(cooc: DataFrame) -> DataFrame:
    """Positive pointwise mutual information over a (src, ctx, cnt)
    co-occurrence frame:

        ppmi(s, c) = max(ln( (cnt·total) / (src_cnt·ctx_cnt) ), 0)

    computed in a PINNED float sequence — numerator multiply,
    denominator multiply, one division, one ln, one clamp — so the
    DuckDB mirror (:func:`ppmi_sql`) evaluates the identical operation
    chain on the identical int64 marginals (Levy & Goldberg NIPS'14:
    this matrix is what SGNS embeddings factorize).

    Output: (src, ctx, cnt, ppmi). Rows with non-positive PMI carry
    ppmi = 0.0 (kept, so callers can distinguish "observed but
    uninformative" from "never co-occurred").

    Scale: two marginal groupBys (map-side combine, O(nodes) results)
    joined back by key, one 1-row total broadcast — the pair frame
    streams through, nothing quadratic. The input is lazily
    localCheckpoint-pinned: four consumers read it (total, two
    marginals, the main select), and without the pin each would re-run
    the whole upstream walk+pair lineage."""
    cooc = cooc.localCheckpoint(eager=False)
    total = cooc.agg(F.sum("cnt").alias("total"))
    srcm = cooc.groupBy("src").agg(F.sum("cnt").alias("src_cnt"))
    ctxm = cooc.groupBy("ctx").agg(F.sum("cnt").alias("ctx_cnt"))
    ratio = (F.col("cnt").cast("double") * F.col("total").cast("double")) / (
        F.col("src_cnt").cast("double") * F.col("ctx_cnt").cast("double")
    )
    return (
        cooc.crossJoin(F.broadcast(total))
        .join(srcm, "src")
        .join(ctxm, "ctx")
        .select(
            "src",
            "ctx",
            "cnt",
            F.greatest(F.log(ratio), F.lit(0.0)).alias("ppmi"),
        )
    )


def ppmi_sql(cooc: str = "cooc") -> str:
    """CTE-chain SQL mirror of :func:`ppmi_scores` (DuckDB), ending in
    a ``ppmi`` CTE over a (src, ctx, cnt) CTE named ``cooc``. Marginal
    sums are pinned ::BIGINT before the ::DOUBLE casts (DuckDB sums
    BIGINT into HUGEINT) so both engines feed ln the same doubles."""
    return (
        f"gtot AS (SELECT (sum(cnt))::BIGINT AS total FROM {cooc}),"
        f" gsrc AS (SELECT src, (sum(cnt))::BIGINT AS src_cnt"
        f"  FROM {cooc} GROUP BY src),"
        f" gctx AS (SELECT ctx, (sum(cnt))::BIGINT AS ctx_cnt"
        f"  FROM {cooc} GROUP BY ctx),"
        f" ppmi AS (SELECT src, ctx, cnt,"
        f"  greatest(ln((cnt::DOUBLE * total::DOUBLE)"
        f"   / (src_cnt::DOUBLE * ctx_cnt::DOUBLE)), 0.0) AS ppmi"
        f"  FROM {cooc} CROSS JOIN gtot"
        f"  JOIN gsrc USING (src) JOIN gctx USING (ctx))"
    )


def _sign_expr(seed: str, ctx: Column, d: Column) -> Column:
    """R[ctx, d] ∈ {+1, −1} from the engine-neutral md5 kernel: +1 iff
    hash32(seed ⊕ ctx ⊕ d) is even."""
    from etl_instagram_spark.functions.text import hash32

    h = hash32(
        F.concat_ws(
            "\x1f", F.lit(seed), ctx.cast("string"), d.cast("string")
        )
    )
    return F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))


def walk_embeddings(
    ppmi: DataFrame,
    dim: int = 16,
    seed: str = "emb",
    quant: int = PPMI_QUANT,
) -> DataFrame:
    """Dense node embeddings: the ±1 random projection (Achlioptas
    PODS'01) of each node's positive-PPMI row, L2-normalized —

        E[v, d] = Σ_ctx  q(v, ctx) · R[ctx, d],   then  E[v] /= ‖E[v]‖

    with q = round(ppmi·quant) int64 micro-units and R the hash-derived
    sign matrix (:func:`_sign_expr`), so the projection sums are exact
    integers (order-independent under any partitioning) and the only
    float ops after quantization are one division back to double, a
    fixed-order left-fold for ‖·‖² over the d-sorted vector, one IEEE
    sqrt, and one division per dimension — bit-replayed by
    :func:`walk_embeddings_sql`.

    Output: (node, emb array<double> of size ``dim``, norm double) for
    every node with at least one POSITIVE-ppmi context (nodes whose
    every context is uninformative get no row — same contract as a
    dangling walk stopping early). ``norm`` is the pre-normalization L2
    magnitude (a structural-salience signal: high = many strong
    contexts). Zero-vector collisions (all signed contributions cancel)
    keep the raw zeros instead of dividing by 0.

    The per-(node, d) int64 sum is bounded loudly: max_src Σ_ctx q must
    stay ≤ 2^62 (one bounded aggregation, exact Python ints — the
    random_walks overflow-guard convention).

    Scale: rows = positive cells × dim through one (node, d) hash
    aggregation with map-side combine, then one groupBy(node) whose
    per-key state is exactly ``dim`` structs. The embedding feeds
    operators/similarity.py cosine/ANN directly."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    # lazily pinned: the overflow-guard collect below materializes it
    # once and the projection job reuses the cached rows instead of
    # re-running the PPMI chain
    posd = (
        ppmi.filter(F.col("ppmi") > 0)
        .select(
            "src",
            "ctx",
            F.round(F.col("ppmi") * F.lit(float(quant)), 0).alias("qd"),
        )
        .localCheckpoint(eager=False)
    )
    # guard BEFORE the double→long cast (a single q past int64 would
    # saturate the cast silently): the per-node mass bounds every
    # signed projection sum, checked conservatively in doubles
    bound = (
        posd.groupBy("src")
        .agg(F.sum("qd").alias("qsum"))
        .agg(F.max("qsum").alias("mx"))
        .collect()[0]["mx"]
    )
    if bound is not None and float(bound) > float(2**62):
        raise ValueError(
            f"walk_embeddings: per-node quantized PPMI mass {bound} "
            "could overflow the int64 projection sum — lower quant or "
            "prune contexts"
        )
    pos = posd.select("src", "ctx", F.col("qd").cast("long").alias("q"))
    exploded = pos.withColumn(
        "d", F.explode(F.sequence(F.lit(0), F.lit(int(dim) - 1)))
    ).select(
        "src",
        "d",
        (F.col("q") * _sign_expr(seed, F.col("ctx"), F.col("d"))).alias(
            "c"
        ),
    )
    sums = exploded.groupBy("src", "d").agg(F.sum("c").alias("s"))
    vecs = sums.groupBy(F.col("src").alias("node")).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "s"))),
            lambda x: x["s"].cast("double") / F.lit(float(quant)),
        ).alias("v")
    )
    withnorm = vecs.select(
        "node",
        "v",
        F.sqrt(
            F.aggregate(
                "v", F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("norm"),
    )
    return withnorm.select(
        "node",
        F.when(F.col("norm") == 0.0, F.col("v"))
        .otherwise(F.transform("v", lambda x: x / F.col("norm")))
        .alias("emb"),
        "norm",
    )


def walk_embeddings_sql(
    dim: int = 16,
    seed: str = "emb",
    quant: int = PPMI_QUANT,
    ppmi: str = "ppmi",
) -> str:
    """CTE-chain SQL mirror of :func:`walk_embeddings` (DuckDB), ending
    in an ``embs`` CTE with (node, emb, norm). The ‖·‖² fold is
    expanded as an EXPLICIT left-associated sum over the dim literals
    so the accumulation order matches Spark's ``aggregate`` exactly
    (list_sum gives no order contract)."""
    from etl_instagram_spark.functions.text import hash32_sql

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    h = hash32_sql(
        f"'{seed}' || chr(31) || ctx::VARCHAR || chr(31) || d::VARCHAR"
    )
    fold = "0.0"
    for i in range(1, int(dim) + 1):
        fold = f"({fold} + v[{i}] * v[{i}])"
    return (
        f"gq AS (SELECT src, ctx,"
        f" (round(ppmi * {float(quant)}))::BIGINT AS q"
        f" FROM {ppmi} WHERE ppmi > 0),"
        f" gcontrib AS (SELECT src, d,"
        f"  CASE WHEN ({h}) % 2 = 0 THEN q ELSE -q END AS c"
        f"  FROM gq CROSS JOIN (SELECT unnest(range({int(dim)})) AS d)),"
        f" gsums AS (SELECT src, d, (sum(c))::BIGINT AS s"
        f"  FROM gcontrib GROUP BY src, d),"
        f" gvecs AS (SELECT src AS node,"
        f"  list(s::DOUBLE / {float(quant)} ORDER BY d) AS v"
        f"  FROM gsums GROUP BY src),"
        f" gnorm AS (SELECT node, v, sqrt({fold}) AS norm FROM gvecs),"
        f" embs AS (SELECT node,"
        f"  CASE WHEN norm = 0.0 THEN v"
        f"   ELSE list_transform(v, x -> x / norm) END AS emb,"
        f"  norm FROM gnorm)"
    )
