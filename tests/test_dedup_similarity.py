"""Tests for the dedup and similarity operators on planted corpora."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_instagram_spark.operators import dedup as D
from etl_instagram_spark.operators import similarity as S

BASE = (
    "spark compiles the declarative plan with catalyst and runs it on "
    "tungsten whole stage codegen for vectorized parquet scans at scale"
)
NEAR = BASE.replace("vectorized", "columnar")  # one-token edit → near-dup
OTHER = (
    "completely unrelated prose about cooking rice noodles with ginger "
    "garlic scallions and a generous splash of toasted sesame oil tonight"
)


def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, NEAR),  # near dup of 1
        (4, OTHER),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_smallest_id(spark):
    out = D.exact_dedup(corpus(spark), "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]


def test_exact_dedup_nfc_normalize_folds_composition_variants(spark):
    # "caf\u00e9 menu" precomposed (U+00E9) vs decomposed ("e" + U+0301):
    # different byte strings, same canonical text. Default stays
    # byte-exact (parity with every oracle-gated row); normalize="nfc"
    # folds the variants so the smaller id survives. Survivors keep
    # their ORIGINAL text.
    pre = "caf\u00e9 menu"
    dec = "cafe\u0301 menu"
    assert pre != dec
    rows = [(1, pre), (2, dec), (3, "unrelated")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw = D.exact_dedup(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in raw.collect()) == [1, 2, 3]
    out = D.exact_dedup(df, "text", "doc_id", normalize="nfc").collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3]
    assert {r["text"] for r in out} == {pre, "unrelated"}
    assert {c for r in out for c in r.asDict()} == {"doc_id", "text"}


def test_dedup_normalize_rejects_decomposed_forms(spark):
    # r18 (ADVICE): only the composition forms are meaningful dedup
    # keys, and only nfc has a DuckDB mirror — nfd/nfkd refuse loudly
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    for bad in ("nfd", "nfkd", "NFD", "latin1"):
        with pytest.raises(ValueError, match="nfc"):
            D.exact_dedup(df, "text", "doc_id", normalize=bad)
    # nfkc stays accepted (Spark-side composition form)
    assert D.exact_dedup(df, "text", "doc_id", normalize="nfkc").count() == 1


def test_near_dedup_nfc_normalize_matches_variant_near_dup(spark):
    # doc 2 is doc 1 with one word changed AND every "\u00e9" decomposed:
    # raw shingles never match (each 3-gram containing the accent
    # differs byte-wise), so only the normalized run may verify the pair
    base = (
        "the caf\u00e9 serves caf\u00e9 style crepes with caf\u00e9 cream "
        "all day long " * 3
    )
    variant = base.replace("\u00e9", "e\u0301").replace("day", "night", 1)
    rows = [(1, base), (2, variant), (3, "completely different text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw = D.near_dedup_minhash(df, "doc_id", "text", threshold=0.5, bands=8)
    assert sorted(r["doc_id"] for r in raw.collect()) == [1, 2, 3]
    out = D.near_dedup_minhash(
        df, "doc_id", "text", threshold=0.5, bands=8, normalize="nfc"
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
    # staged column never leaks into the survivor frame
    assert out.columns == ["doc_id", "text"]


def test_minhash_candidates_find_planted_pair(spark):
    cands = D.minhash_lsh_candidates(corpus(spark), "doc_id", "text", k=16, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs  # near dup collides in ≥1 of 8 bands
    assert (1, 4) not in pairs and (3, 4) not in pairs  # unrelated does not


def test_minhash_candidates_default_args_no_overflow(spark):
    # declared defaults are k=16, bands=4 → 4 rows/band; the band fold must
    # stay within int64 under ANSI mode (regression: the base-2^31 pack
    # overflowed for rows > 2)
    cands = D.minhash_lsh_candidates(corpus(spark), "doc_id", "text")
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs  # exact dup collides in every band
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_band_hash_sql_mirrors_column_formula(spark):
    # the DuckDB generator and the Column builder must express the same
    # function for BOTH the injective rows=2 pack and the modular fold
    import duckdb

    sig = list(range(101, 117))  # 16 fake minhash values
    # (4, 4) covers the rows=1 branch (band hash = the sig value itself)
    for k, bands in [(4, 4), (8, 4), (16, 4)]:
        df = spark.createDataFrame([(sig[:k],)], "sig array<long>")
        got = df.select(D._band_hashes(F.col("sig"), k, bands).alias("b")).first()["b"]
        want = duckdb.sql(
            f"SELECT {D.band_hash_sql('sig', k, bands)} AS b FROM (SELECT {sig[:k]} AS sig)"
        ).fetchone()[0]
        assert list(got) == list(want), (k, bands)


def test_shingle_jaccard_values(spark):
    df = spark.createDataFrame([(BASE, BASE), (BASE, NEAR), (BASE, OTHER)], "x string, y string")
    vals = [
        r["j"] for r in df.select(D.shingle_jaccard(F.col("x"), F.col("y")).alias("j")).collect()
    ]
    assert vals[0] == 1.0
    assert 0.5 < vals[1] < 1.0
    assert vals[2] == 0.0


def test_near_dedup_minhash_end_to_end(spark):
    out = D.near_dedup_minhash(
        corpus(spark), "doc_id", "text", threshold=0.5, k=16, bands=8
    )
    # 2 (exact dup) and 3 (near dup) dropped; 1 survives as smallest id
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 4, 5]


def test_simhash_candidates(spark):
    pairs = D.simhash_candidates(corpus(spark), "doc_id", "text", max_hamming=16).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(1, 2)] == 0  # identical text → identical simhash
    # unrelated docs must not appear as exact-half collisions
    assert (1, 4) not in got


def planted_vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # nearest to query
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (3, [0.7, 0.7, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_matches_manual(spark):
    out = S.cosine_topk(planted_vectors(spark), [1.0, 0.0, 0.0, 0.0], k=3).collect()
    ids = [r["vec_id"] for r in out]
    assert ids == [0, 1, 3]
    assert out[0]["cos_sim"] == 1.0
    assert abs(out[1]["cos_sim"] - 0.9 / math.hypot(0.9, 0.1)) < 1e-6


def test_ann_lsh_bucket_contains_near_neighbor(spark):
    df = planted_vectors(spark)
    # exact and near vector land in the same hyperplane bucket; the
    # opposite vector lands elsewhere for any plane with nonzero dim-0 sign
    out = S.ann_lsh_topk(df, [1.0, 0.0, 0.0, 0.0], k=5, bits=4).collect()
    ids = [r["vec_id"] for r in out]
    assert 0 in ids and 1 in ids
    # brute force is the recall oracle: ann results ⊆ brute-force order
    brute = [r["vec_id"] for r in S.cosine_topk(df, [1.0, 0.0, 0.0, 0.0], k=5).collect()]
    assert all(i in brute for i in ids)


def test_ann_multi_probe_raises_recall(spark):
    df = planted_vectors(spark)
    single = {r["vec_id"] for r in S.ann_lsh_topk(df, [1.0, 0.0, 0.0, 0.0], k=5, bits=4).collect()}
    multi = {
        r["vec_id"]
        for r in S.ann_lsh_topk(
            df, [1.0, 0.0, 0.0, 0.0], k=5, bits=4, multi_probe_hamming=4
        ).collect()
    }
    assert single <= multi
    assert multi == {0, 1, 2, 3, 4}  # hamming=bits probes every bucket


def test_near_dedup_embeddings_drops_planted_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),  # near-identical to 0 → dropped
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = D.near_dedup_embeddings(df, "vec_id", "embedding", threshold=0.99, bits=4)
    assert sorted(r["vec_id"] for r in out.collect()) == [0, 2, 3]
    # idempotent: running again on the survivors changes nothing
    again = D.near_dedup_embeddings(out, "vec_id", "embedding", threshold=0.99, bits=4)
    assert sorted(r["vec_id"] for r in again.collect()) == [0, 2, 3]


def test_ann_ivf_topk_recall(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):  # two well-separated clusters
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    centroids = S.fit_ivf_centroids(df, n_clusters=2, seed=11)
    assert len(centroids) == 2 and len(centroids[0]) == 4

    query = [1.0, 0.01, 0.0, 0.0]
    ivf = [r["vec_id"] for r in S.ann_ivf_topk(df, query, centroids, k=5, n_probe=1).collect()]
    brute = [r["vec_id"] for r in S.cosine_topk(df, query, k=5).collect()]
    # probing the single nearest cell recovers the exact top-5 (clusters
    # are well separated)
    assert ivf == brute
    # probing both cells is always exhaustive
    full = [r["vec_id"] for r in S.ann_ivf_topk(df, query, centroids, k=5, n_probe=2).collect()]
    assert full == brute


def test_ann_recall_gates_on_real_embeddings(spark):
    """The registered recall@10 queries (emb_ann_recall / emb_ann_ivf_recall)
    are the MEASURED ANN gate: 5 queries each, recall in [0, 1], and the
    IVF variant (probing 2 of 8 cells) must clear a floor that brute
    LSH-at-3.5%-scan cannot. Isotropic synthetic vectors are LSH's worst
    case, so only shape is asserted for it; the exact values are pinned
    by the DuckDB oracle."""
    from etl_instagram_spark.plans.q_emb import emb_ann_ivf_recall, emb_ann_recall

    sf = "/root/testdata/sf0.001"
    # both are non-gate rows: the recall floors stay pinned here and the
    # DuckDB parity in tests/test_rotated_parity.py
    lsh = emb_ann_recall(spark, sf).collect()
    ivf = emb_ann_ivf_recall(spark, sf).collect()
    assert [(r["qid"], r["probe_hamming"]) for r in lsh] == [
        (q, h) for q in range(5) for h in (1, 2)
    ]
    assert [r["qid"] for r in ivf] == [0, 1, 2, 3, 4]
    assert all(0.0 <= r["recall_at_10"] <= 1.0 for r in lsh + ivf)
    # widening the probe radius may never LOWER recall (the measured knob)
    rec = {(r["qid"], r["probe_hamming"]): r["recall_at_10"] for r in lsh}
    assert all(rec[(q, 2)] >= rec[(q, 1)] for q in range(5))
    ivf_avg = sum(r["recall_at_10"] for r in ivf) / len(ivf)
    assert ivf_avg >= 0.3, f"IVF recall@10 collapsed: {ivf_avg}"


def test_dedup_components_transitive_closure(spark):
    """A-B and B-C chains must land in ONE component labeled by the
    smallest reachable id, even though (A, C) was never a pair; disjoint
    pairs keep their own components."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in D.dedup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_components_raises_when_unconverged(spark):
    """Exhausting max_iter with labels still changing must raise, never
    return intermediate labels that split one chain into fake clusters."""
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.dedup_components(chain, max_iter=1)
    # the same chain converges with enough rounds
    comp = {r["id"]: r["component"] for r in D.dedup_components(chain).collect()}
    assert set(comp.values()) == {1}


def test_alternating_cc_matches_min_label_on_random_graphs(spark):
    """dedup_components_alternating must produce the exact labels of the
    min-label kernel (and of a union-find reference) on seeded random
    graphs — same contract, different round complexity."""
    import random

    rng = random.Random(8)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 60))
        ]
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
        # union-find reference
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a2, b2 in edges:
            if a2 != b2:
                parent[find(a2)] = find(b2)
        for a2, b2 in edges:  # self-paired nodes are singletons
            parent.setdefault(a2, a2), parent.setdefault(b2, b2)
        want = {
            x: min(y for y in parent if find(y) == find(x)) for x in parent
        }
        got = {
            r["id"]: r["component"]
            for r in D.dedup_components_alternating(pairs).collect()
        }
        assert got == want, f"trial {trial}"
        if want:  # min-label agrees (skip if graph was all self-loops)
            ml = {
                r["id"]: r["component"]
                for r in D.dedup_components(pairs, max_iter=50).collect()
            }
            assert got == ml, f"trial {trial} vs min-label"


def test_alternating_cc_collapses_long_chain_in_log_rounds(spark):
    """The scale claim: a 64-node path needs ~diameter rounds of
    min-label propagation but must collapse within a logarithmic round
    budget under star contraction (max_iter=12 ≪ 63 hops)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["component"]
        for r in D.dedup_components_alternating(chain, max_iter=12).collect()
    }
    assert set(comp.values()) == {1} and len(comp) == 64
    # a node seen only in self-pairs is its own singleton component
    selfs = spark.createDataFrame([(5, 5)], "id_a long, id_b long")
    out = D.dedup_components_alternating(selfs)
    assert [(r["id"], r["component"]) for r in out.collect()] == [(5, 5)]


def test_duplicate_clusters_end_to_end(spark):
    rows = [
        (1, BASE),
        (2, BASE),            # exact dup of 1
        (3, NEAR),            # near dup of 1/2
        (4, OTHER),           # unrelated — no cluster row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["component"] for r in
           D.duplicate_clusters(df, "doc_id", "text", threshold=0.5).collect()}
    assert out.get(1) == 1 and out.get(2) == 1 and out.get(3) == 1
    assert 4 not in out  # singleton stays out of the O(duplicates) output


def test_near_dedup_keep_best_keeps_longest_per_cluster(spark):
    """The 'best' survivor policy: one keeper per transitive cluster,
    argmax text length with ties to the smallest id; docs in no cluster
    pass through untouched."""
    rows = [
        (1, BASE),
        (2, BASE),                      # exact dup of 1 (tie → id wins)
        (3, BASE + " extra"),           # superset text → 0.95 Jaccard, longest
        (4, OTHER),                     # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.near_dedup_keep_best(df, "doc_id", "text", threshold=0.5)
    assert {r["doc_id"] for r in out.collect()} == {3, 4}
    # tie on length: drop the longest variant → 1 beats 2 by id
    df2 = spark.createDataFrame(rows[:2] + [(4, OTHER)], "doc_id long, text string")
    out2 = D.near_dedup_keep_best(df2, "doc_id", "text", threshold=0.5)
    assert {r["doc_id"] for r in out2.collect()} == {1, 4}


def test_cc_converges_well_inside_the_oracle_round_budget(spark, sf_oracle):
    """The docs_dup_cluster_reps oracle replays connected components as
    a FIXED 16 min-label rounds (q_shared._CC_ORACLE_ROUNDS); its
    correctness rests on the gate data's dup graph converging within
    that budget. Pin the margin: the real verified-pair graph at the
    gate scale factor converges in <= 8 rounds (min-label raises if it
    doesn't), so 16 carries a >= 2x cushion — and extra rounds are
    no-ops by monotonicity."""
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    pairs = D.verified_duplicate_pairs(docs, "doc_id", "text", 0.5, 8, 4)
    D.dedup_components(pairs, max_iter=8)  # raises on non-convergence


def test_near_dedup_keep_best_invariant_under_partitioning(spark):
    rows = [(i, BASE) for i in range(1, 6)] + [(9, NEAR), (10, OTHER)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    one = sorted(
        r["doc_id"]
        for r in D.near_dedup_keep_best(
            df.coalesce(1), "doc_id", "text", threshold=0.5
        ).collect()
    )
    many = sorted(
        r["doc_id"]
        for r in D.near_dedup_keep_best(
            df.repartition(7), "doc_id", "text", threshold=0.5
        ).collect()
    )
    assert one == many


# ---------------------------------------------------------------------------
# incremental near-dedup against the signature store
# ---------------------------------------------------------------------------


def test_incremental_near_dedup_across_batches(spark, tmp_path):
    """The daily-delta shape: batch 2 is deduped against batch 1's
    SIGNATURES (no batch-1 text anywhere), within-batch dups still drop,
    and a verbatim replay of batch 2 converges to the same survivors and
    the same store."""
    from etl_instagram_spark.operators.dedup import incremental_near_dedup
    from etl_instagram_spark.operators.merge import MergeTable

    LONG_A = "the quick brown fox jumps over the lazy dog near the river bank today"
    LONG_B = "completely different content about spark query engines and shuffles"
    store = MergeTable(spark, str(tmp_path / "sigstore"), "doc_id")

    b1 = spark.createDataFrame(
        [(1, LONG_A), (2, LONG_B)], "doc_id long, text string"
    )
    s1 = incremental_near_dedup(b1, store, "doc_id", "text", threshold=0.5)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    assert store.read().count() == 2

    b2 = spark.createDataFrame(
        [
            (10, LONG_A),                                 # dup of stored doc 1
            (11, "fresh unseen story about mountains and weather patterns"),
            (12, "fresh unseen story about mountains and weather patterns"),  # within-batch dup
        ],
        "doc_id long, text string",
    )
    s2 = incremental_near_dedup(b2, store, "doc_id", "text", threshold=0.5)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]
    stored = sorted(r["doc_id"] for r in store.read().collect())
    assert stored == [1, 2, 11]

    # replay batch 2 (crash-recovery): same survivors, store unchanged
    s2r = incremental_near_dedup(b2, store, "doc_id", "text", threshold=0.5)
    assert sorted(r["doc_id"] for r in s2r.collect()) == [11]
    assert sorted(r["doc_id"] for r in store.read().collect()) == [1, 2, 11]


@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_incremental_near_dedup_converges_to_single_batch(spark, tmp_path, data):
    """Core claim of the operator: feeding one corpus through ANY batch
    split yields one survivor per duplicate cluster — the same cluster
    coverage single-batch near_dedup_minhash produces — with the exact
    survivor determined by first arrival (min id within the earliest
    batch that contains the cluster), and a replay of the final batch
    changing nothing. Clusters use disjoint per-cluster vocabularies so
    cross-cluster Jaccard is exactly 0 and the MinHash estimator can
    never flip a borderline pair."""
    import uuid

    from etl_instagram_spark.operators.dedup import (
        incremental_near_dedup,
        near_dedup_minhash,
    )
    from etl_instagram_spark.operators.merge import MergeTable

    n_clusters = data.draw(st.integers(1, 4), label="n_clusters")
    # (cluster, batch) per doc; ids are assignment order
    docs = data.draw(
        st.lists(
            st.tuples(st.integers(0, n_clusters - 1), st.integers(0, 2)),
            min_size=1,
            max_size=10,
        ),
        label="docs",
    )

    def text_of(cluster: int) -> str:
        return " ".join(f"w{cluster}x{j}" for j in range(6))

    rows = [(i, b, text_of(c)) for i, (c, b) in enumerate(docs)]
    cluster_of = {i: c for i, (c, _b) in enumerate(docs)}

    # expected survivors: per cluster, min id within its earliest batch
    expect: dict[int, int] = {}
    for c in {c for c, _b in docs}:
        first_batch = min(b for i, (cc, b) in enumerate(docs) if cc == c)
        expect[c] = min(
            i for i, (cc, b) in enumerate(docs) if cc == c and b == first_batch
        )

    store = MergeTable(spark, str(tmp_path / f"ps_{uuid.uuid4().hex[:8]}"), "doc_id")
    survivors: list[int] = []
    last_batch_rows = None
    for b in (0, 1, 2):
        batch_rows = [(i, t) for i, bb, t in rows if bb == b]
        if not batch_rows:
            continue
        bdf = spark.createDataFrame(batch_rows, "doc_id long, text string")
        got = incremental_near_dedup(bdf, store, "doc_id", "text", threshold=0.5)
        survivors.extend(r["doc_id"] for r in got.collect())
        last_batch_rows = batch_rows

    assert sorted(survivors) == sorted(expect.values())

    # same cluster coverage as the single-batch operator (ids may differ:
    # single-batch keeps the global min id, incremental the first arrival)
    single = near_dedup_minhash(
        spark.createDataFrame([(i, t) for i, _b, t in rows], "doc_id long, text string"),
        "doc_id",
        "text",
        threshold=0.5,
    )
    single_clusters = sorted(cluster_of[r["doc_id"]] for r in single.collect())
    assert sorted(cluster_of[i] for i in survivors) == single_clusters

    # replay of the final batch: no new survivors beyond its own, store stable
    n_store = store.read().count()
    assert n_store == len(expect)
    replay = incremental_near_dedup(
        spark.createDataFrame(last_batch_rows, "doc_id long, text string"),
        store,
        "doc_id",
        "text",
        threshold=0.5,
    )
    assert set(r["doc_id"] for r in replay.collect()) <= set(survivors)
    assert store.read().count() == n_store


def test_signature_rows_compact_schema(spark):
    from etl_instagram_spark.operators.dedup import signature_rows

    df = spark.createDataFrame([(1, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    row = signature_rows(df, "doc_id", "text", k=16, bands=4).collect()[0]
    assert len(row["sig"]) == 16 and len(row["band_hashes"]) == 4
    assert set(row.asDict()) == {"doc_id", "sig", "band_hashes"}


def test_incremental_near_dedup_rejects_store_shape_mismatch(spark, tmp_path):
    from etl_instagram_spark.operators.dedup import incremental_near_dedup
    from etl_instagram_spark.operators.merge import MergeTable

    store = MergeTable(spark, str(tmp_path / "sigstore2"), "doc_id")
    b = spark.createDataFrame([(1, "some text about anything at all")], "doc_id long, text string")
    incremental_near_dedup(b, store, "doc_id", "text", k=16, bands=4)
    with pytest.raises(ValueError, match="not comparable"):
        incremental_near_dedup(b, store, "doc_id", "text", k=32, bands=8)


def test_zero_norm_vector_never_dropped_as_duplicate(spark):
    """cos(zero, anything) is 0/0 = NaN, and Spark orders NaN above every
    double — unguarded, an all-zero embedding sharing a bucket would be
    dropped as a duplicate of its bucket-mate."""
    from etl_instagram_spark.operators.dedup import near_dedup_embeddings

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
            (3, [0.0, 0.0, 0.0, 0.0]),  # second zero vector
            (4, [1.0, 0.000001, 0.0, 0.0]),  # true near-dup of 1
        ],
        "vec_id long, embedding array<double>",
    )
    kept = {r["vec_id"]
            for r in near_dedup_embeddings(
                df, "vec_id", "embedding", threshold=0.97, bits=2,
                multi_probe_hamming=2, dim=4,
            ).collect()}
    # zero vectors survive (no direction => cosine defined as 0);
    # the true near-dup of id 1 is dropped
    assert 2 in kept and 3 in kept
    assert 4 not in kept
    assert 1 in kept


def test_cosine_zero_norm_is_zero_not_nan(spark):
    import math
    from etl_instagram_spark.operators.similarity import as_double, cosine

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [r[0] for r in df.select(
        cosine(as_double(F.col("a")), as_double(F.col("b")))
    ).collect()]
    assert got[0] == 0.0 and not math.isnan(got[0])
    assert abs(got[1] - 1.0) < 1e-9


def test_ivf_cell_vectorized_path_matches_codegen_path(spark, sf_oracle):
    """The large-quantizer NumPy path must assign the same cells as the
    unrolled-codegen path (away from exact ties — real data), and must
    actually RUN at a quantizer size the codegen path cannot compile
    (janino OOMs past ~4096 unrolled terms — observed at 80 cells × 64
    dims)."""
    from etl_instagram_spark.operators.similarity import (
        _ivf_cell_vectorized,
        fit_ivf_centroids,
        ivf_cell,
    )

    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    cents8 = fit_ivf_centroids(emb, n_clusters=8, seed=42, order_col="vec_id")
    both = emb.select(
        "vec_id",
        ivf_cell("embedding", cents8).alias("unrolled"),
        _ivf_cell_vectorized("embedding", cents8).alias("vectorized"),
    ).collect()
    assert all(r["unrolled"] == r["vectorized"] for r in both)
    # a quantizer past the unroll limit dispatches to the NumPy path and
    # completes (100 cells x 64 dims = 6400 terms > _UNROLL_MAX_TERMS)
    cents100 = fit_ivf_centroids(emb, n_clusters=100, seed=42, order_col="vec_id")
    cells = emb.select(ivf_cell("embedding", cents100).alias("cell")).collect()
    assert all(r["cell"] is not None and 0 <= r["cell"] < 100 for r in cells)


def test_ivf_cell_assignment_matches_duckdb_mirror(spark, sf_oracle):
    """Per-row pin of the IVF oracle's riskiest step: the DuckDB mirror
    assigns cells via list_distance (sqrt form) while Spark uses the
    sqrt-free Σ(a-b)² — monotone-equivalent, but a near-tie between two
    centroids could in principle flip the argmin. Pinning every row's
    cell at the gate scale makes that drift loud instead of a mystery
    hash mismatch in CORRECTNESS."""
    import duckdb

    from etl_instagram_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_cell,
    )

    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    centroids = fit_ivf_centroids(emb, n_clusters=8, seed=42, order_col="vec_id")
    got = {
        r["vec_id"]: r["cell"]
        for r in emb.select("vec_id", ivf_cell("embedding", centroids).alias("cell")).collect()
    }
    c_lits = [
        "[" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[]" for c in centroids
    ]
    dists = "[" + ", ".join(
        f"list_distance(embedding::DOUBLE[], {c})" for c in c_lits
    ) + "]"
    want = {
        int(vid): int(cell)
        for vid, cell in duckdb.sql(
            f"SELECT vec_id, (list_position(d, list_min(d)) - 1) AS cell "
            f"FROM (SELECT vec_id, {dists} AS d "
            f"      FROM '{sf_oracle}/embeddings.parquet') t"
        ).fetchall()
    }
    assert got == want


def test_pq_code_vectorized_path_matches_codegen_path(spark, sf_oracle):
    """The large-codebook NumPy PQ encode must produce the same codes as
    the unrolled-codegen path (away from exact ties — real data), and a
    codebook past the unroll limit (k·dim terms) must dispatch to it and
    complete — pq_code previously had no guard, so production-sized PQ
    (k=256, dim=64 → 16384 terms) would hit the janino blowup ivf_cell
    already defends against (round-7 advisor finding)."""
    from etl_instagram_spark.operators.similarity import (
        _UNROLL_MAX_TERMS,
        _pq_code_vectorized,
        fit_pq_codebooks,
        pq_code,
    )

    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    books = fit_pq_codebooks(emb, m=8, k=16, seed=42, order_col="vec_id")
    both = emb.select(
        pq_code("embedding", books).alias("unrolled"),
        _pq_code_vectorized("embedding", books).alias("vectorized"),
    ).collect()
    assert all(r["unrolled"] == r["vectorized"] for r in both)
    # k=80 on dim=64 → 5120 terms > limit: must route to NumPy and finish
    big = fit_pq_codebooks(emb, m=8, k=80, seed=42, order_col="vec_id")
    assert 80 * 64 > _UNROLL_MAX_TERMS
    codes = emb.select(pq_code("embedding", big).alias("c")).collect()
    assert all(
        r["c"] is not None and all(x is not None and 0 <= x < 80 for x in r["c"])
        for r in codes
    )


def test_vectorized_encode_null_propagation_matches_expressions(spark, sf_oracle):
    """Malformed vectors must behave identically on both encode paths:
    the expression path NULL-propagates (NULL vector → NULL; short
    slice / NULL element → NULL cell, and for PQ a NULL only at the
    affected subspace) while the NumPy path previously raised on ragged
    input via np.stack — so error behavior silently flipped when a
    quantizer crossed the unroll limit (round-7 advisor finding)."""
    from etl_instagram_spark.operators.similarity import (
        _ivf_cell_vectorized,
        _pq_code_vectorized,
        fit_ivf_centroids,
        fit_pq_codebooks,
        ivf_cell,
        pq_code,
    )

    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    cents = fit_ivf_centroids(emb, n_clusters=4, seed=42, order_col="vec_id")
    books = fit_pq_codebooks(emb, m=4, k=4, seed=42, order_col="vec_id")
    dim = len(cents[0])
    good = [float(i % 7) / 7.0 for i in range(dim)]
    rows = [
        (0, good),                      # valid
        (1, None),                      # NULL vector
        (2, good[: dim // 2]),          # ragged: half the dimensions
        (3, good[:-1] + [None]),        # NULL element in last subspace
        (4, good + [9.9]),              # longer than dim: extra ignored
        (5, []),                        # empty
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = (
        df.select(
            "vec_id",
            ivf_cell("embedding", cents).alias("cell_e"),
            _ivf_cell_vectorized("embedding", cents).alias("cell_v"),
            pq_code("embedding", books).alias("code_e"),
            _pq_code_vectorized("embedding", books).alias("code_v"),
        )
        .orderBy("vec_id")
        .collect()
    )
    for r in got:
        assert r["cell_e"] == r["cell_v"], r
        assert r["code_e"] == r["code_v"], r
    # spot semantics: NULL/ragged-short → NULL cell; NULL PQ input →
    # all-NULL code array (array() never returns a NULL array); NULL
    # element hits only its own PQ subspace; longer vector encodes like
    # the base one
    by_id = {r["vec_id"]: r for r in got}
    assert by_id[1]["cell_e"] is None
    assert by_id[1]["code_e"] == [None] * len(by_id[0]["code_e"])
    assert by_id[2]["cell_e"] is None
    assert by_id[3]["code_e"][:-1] == by_id[0]["code_e"][:-1]
    assert by_id[3]["code_e"][-1] is None
    assert by_id[4]["cell_e"] == by_id[0]["cell_e"]
    assert by_id[4]["code_e"] == by_id[0]["code_e"]


def test_skewed_dup_clusters_stay_near_uniform_cost(spark):
    """Skew resilience, pinned with wall-clock: the module header claims
    hot duplicate clusters are absorbed (exact_dedup via AQE-coalesced
    hash groups; the LSH path by bounded O(bucket^2) candidate volume).
    Run each operator on a UNIFORM corpus and on a SKEWED one of equal
    size — exact: half the corpus one identical text; near-dup: 1000
    clusters of 20 identical docs — and require the skewed run to stay
    within a generous noise-absorbing factor of uniform. A quadratic
    blowup (hot bucket handled as all-pairs, or a single straggler task
    owning the hot group's shuffle) fails this by an order of magnitude,
    not by the margin."""
    import time

    from pyspark.sql import functions as F

    n = 20_000

    def words(idc, salt):
        # raw id embedded per token — no modular fold, so distinct ids
        # never alias into accidental duplicates (mod 9973 at 20k rows
        # would make ~10k unintended twin docs)
        return F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{salt}{j}_"), idc * (31 + j) + j)
                for j in range(12)
            ],
        )

    base = spark.range(n).select(F.col("id").alias("doc_id"))
    uniform = base.select("doc_id", words(F.col("doc_id"), "u").alias("text"))
    hot = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("hot boilerplate page " * 6))
        .otherwise(words(F.col("doc_id"), "s"))
        .alias("text"),
    )
    # 1000 clusters of 20 identical docs — the "boilerplate-heavy crawl"
    # shape the header's O(bucket^2) candidate bound is about
    clustered = base.select(
        "doc_id", words(F.col("doc_id") % 1000, "c").alias("text")
    )

    def timed(fn, df):
        t0 = time.perf_counter()
        fn(df).count()
        return time.perf_counter() - t0

    def run_exact(df):
        return D.exact_dedup(df, "text", "doc_id")

    def run_near(df):
        return D.near_dedup_minhash(df, "doc_id", "text", threshold=0.5)

    # warm both paths once so JVM/codegen compilation doesn't land on a
    # measured run
    timed(run_exact, uniform.limit(2000))
    timed(run_near, uniform.limit(2000))

    exact_u = timed(run_exact, uniform)
    exact_s = timed(run_exact, hot)
    near_u = timed(run_near, uniform)
    near_s = timed(run_near, clustered)

    # generous bounds: wide factors plus an absolute floor so sub-second
    # uniform runs don't make the ratio meaningless. The near-dup skewed
    # corpus legitimately does MORE bounded work than uniform (1000
    # buckets x C(20,2) candidate pairs per band vs ~zero candidates on
    # the uniform corpus), so its measured ratio hovers around 3-5x with
    # container noise on top; the failure mode this test exists to catch
    # — a hot bucket handled as unbounded all-pairs — is >=50x, so the
    # wide margin still fails it by an order of magnitude.
    assert exact_s <= 3 * exact_u + 2.0, (exact_s, exact_u)
    assert near_s <= 6 * near_u + 4.0, (near_s, near_u)


# ---------------------------------------------------------------------------
# exact prefix-filtered Jaccard join
# ---------------------------------------------------------------------------


def _py_shingles(text: str, n: int = 3) -> set[str]:
    """Reference mirror of text.with_word_shingles(distinct=True)."""
    norm = text.strip().lower()
    toks = __import__("re").split(r"\s+", norm)
    if len(toks) < n:
        return {norm}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_jaccard_pairs(rows, threshold, n=3):
    out = set()
    for i, (ia, ta) in enumerate(rows):
        sa = _py_shingles(ta, n)
        for ib, tb in rows[i + 1 :]:
            sb = _py_shingles(tb, n)
            lo, hi = (ia, ib) if ia < ib else (ib, ia)
            u = sa | sb
            j = len(sa & sb) / len(u) if u else 0.0
            if j >= threshold:
                out.add((lo, hi, round(j, 6)))
    return out


def test_jaccard_join_matches_naive_all_pairs(spark):
    out = D.jaccard_join(corpus(spark), "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in out.collect()}
    rows = [(r["doc_id"], r["text"]) for r in corpus(spark).collect()]
    assert got == _py_jaccard_pairs(rows, 0.5)
    # the planted structure: exact dup pair at J=1.0, near-dup pair high
    assert (1, 2, 1.0) in got
    assert any(p[:2] == (1, 3) for p in got)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "fish", "cat", "dog", "sun"]),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_jaccard_join_lossless_property(spark, texts, threshold):
    """Prefix filtering must be LOSSLESS: the filtered join equals the
    naive all-pairs join for any corpus and threshold."""
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    out = D.jaccard_join(df, "doc_id", "text", threshold=threshold)
    got = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in out.collect()}
    assert got == _py_jaccard_pairs(rows, threshold)


def test_jaccard_join_boilerplate_skew_stays_near_uniform_cost(spark):
    """The frequency-ordered prefix claim, pinned with wall-clock: a
    corpus-wide boilerplate suffix gives every doc ~8 shingles with
    df == n. If those entered the prefix index the candidate join would
    be O(n²) (16M pairs here); frequency ordering sorts them LAST so
    they fall outside every prefix and the skewed run stays within a
    noise-absorbing factor of the boilerplate-free one."""
    import time

    n = 4000

    def words(idc, salt):
        return F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{salt}{j}_"), idc * (31 + j) + j)
                for j in range(12)
            ],
        )

    base = spark.range(n).select(F.col("id").alias("doc_id"))
    uniform = base.select("doc_id", words(F.col("doc_id"), "u").alias("text"))
    boiler = base.select(
        "doc_id",
        F.concat(
            words(F.col("doc_id"), "b"),
            F.lit(" subscribe to our newsletter terms of service apply today"),
        ).alias("text"),
    )

    def timed(df):
        t0 = time.perf_counter()
        cnt = D.jaccard_join(df, "doc_id", "text", threshold=0.5).count()
        return time.perf_counter() - t0, cnt

    timed(uniform.limit(500))  # warm codegen/JVM
    t_u, c_u = timed(uniform)
    t_s, c_s = timed(boiler)
    assert c_u == 0 and c_s == 0, (c_u, c_s)  # boilerplate alone J≈0.23
    assert t_s <= 3 * t_u + 2.0, (t_s, t_u)


def test_jaccard_join_threshold_validation(spark):
    with pytest.raises(ValueError, match="threshold"):
        D.jaccard_join(corpus(spark), "doc_id", "text", threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        D.jaccard_join(corpus(spark), "doc_id", "text", threshold=1.5)


def test_knn_self_join_recall_on_real_embeddings(spark, sf_oracle):
    """knn_self_join vs the brute-force oracle on the real embeddings
    table: mean recall@5 must clear a floor at radius 1 and IMPROVE (or
    tie) when the probe radius widens — same gating style as the
    one-query ANN paths."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    exact = S.knn_self_join_exact(emb, k=5)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["vec_id"], set()).add(r["neighbor_id"])

    def rows_at(radius):
        return S.knn_self_join(
            emb, k=5, bits=4, multi_probe_hamming=radius
        ).collect()

    def mean_recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(v, set()) & t) / len(t) for v, t in truth.items()
        ) / len(truth)

    rows1 = rows_at(1)
    r1 = mean_recall(rows1)
    r2 = mean_recall(rows_at(2))
    assert r1 >= 0.45, r1
    assert r2 >= r1 - 0.02, (r1, r2)  # widening probes must not hurt
    # shape contract on the SAME radius-1 rows (r20: this re-ran the
    # whole join a third time): <= k rows per id, no self pairs, ranks
    # 1..k dense
    per: dict[int, list[int]] = {}
    for r in rows1:
        per.setdefault(r["vec_id"], []).append(r["knn_rank"])
        assert r["vec_id"] != r["neighbor_id"]
    for v, ranks in per.items():
        assert len(ranks) <= 5, (v, ranks)
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (v, ranks)


def test_knn_self_join_stored_bucket_matches_computed(spark, sf_oracle):
    """bucket_col path (the partition-pruned layout) must return exactly
    the computed-bucket result."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    planes = S.hyperplane_signs(6, 64)
    stored = emb.withColumn("bk", S.lsh_bucket("embedding", planes))
    a = sorted(
        map(tuple, S.knn_self_join(emb, k=3, bits=6).select(
            "vec_id", "neighbor_id", "knn_rank").collect())
    )
    b = sorted(
        map(tuple, S.knn_self_join(stored, k=3, bits=6, bucket_col="bk").select(
            "vec_id", "neighbor_id", "knn_rank").collect())
    )
    assert a == b


def test_incremental_exact_dedup_across_batches(spark, tmp_path):
    from etl_instagram_spark.operators.merge import MergeTable

    store = MergeTable(
        spark, str(tmp_path / "hash_store"), key="content_hash", order_by="doc_id"
    )

    b1 = spark.createDataFrame(
        [(5, "alpha"), (3, "alpha"), (7, "beta")], "doc_id long, text string"
    )
    s1 = sorted(r["doc_id"] for r in D.incremental_exact_dedup(b1, store, "doc_id", "text").collect())
    assert s1 == [3, 7]  # within-batch: smallest id per content

    # cross-batch: earlier-seen content wins even against a smaller id
    b2 = spark.createDataFrame(
        [(1, "alpha"), (9, "gamma")], "doc_id long, text string"
    )
    s2 = sorted(r["doc_id"] for r in D.incremental_exact_dedup(b2, store, "doc_id", "text").collect())
    assert s2 == [9]

    # replay of batch 2 converges: its survivor finds its own store row
    s2r = sorted(r["doc_id"] for r in D.incremental_exact_dedup(b2, store, "doc_id", "text").collect())
    assert s2r == [9]
    # store holds one row per distinct content
    assert store.read().count() == 3
    assert sorted(
        (r["content_hash"] is not None, r["doc_id"]) for r in store.read().collect()
    ) == [(True, 3), (True, 7), (True, 9)]


def test_knn_self_join_empty_input_schema_matches(spark):
    emb = spark.createDataFrame([], "vec_id string, embedding array<float>")
    out = S.knn_self_join(emb, k=3)
    nonempty = S.knn_self_join(
        spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [0.9, 0.1])],
            "vec_id string, embedding array<float>",
        ),
        k=1,
        bits=2,
    )
    assert out.count() == 0
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in nonempty.schema.fields
    ]


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup: IVF cells → within-cell cosine → survivors)
# ---------------------------------------------------------------------------


def _planted_vectors():
    """40 deterministic 8-dim vectors with planted same-direction dups:
    ids 100/101 are near-identical, 200/201/202 form a chain, the rest
    are pseudo-random directions (md5-derived, no PRNG state)."""
    import hashlib

    def vec(seed: str) -> list[float]:
        h = hashlib.md5(seed.encode()).digest()
        return [((b / 255.0) * 2 - 1) for b in h[:8]]

    rows = [(i, vec(f"base:{i}")) for i in range(35)]
    a = vec("dup:a")
    rows += [(100, a), (101, [x * 1.01 for x in a])]  # cos == 1.0
    b = vec("dup:b")
    rows += [
        (200, b),
        (201, [x + 0.001 for x in b]),
        (202, [x + 0.002 for x in b]),
    ]
    return rows


def _numpy_semantic_reference(rows, centroids, threshold):
    """Plain-NumPy SemDeDup: argmin-cell assign, same-cell pairs, cosine
    rounded to 6, keep-smallest-id."""
    import numpy as np

    ids = [r[0] for r in rows]
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    c = np.asarray(centroids)
    d2 = (x**2).sum(1)[:, None] - 2 * x @ c.T + (c**2).sum(1)[None, :]
    cell = d2.argmin(1)
    losers = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if cell[i] == cell[j] and ids[i] < ids[j]:
                ni, nj = np.linalg.norm(x[i]), np.linalg.norm(x[j])
                cos = 0.0 if ni * nj == 0 else float(x[i] @ x[j] / (ni * nj))
                if round(cos, 6) >= threshold:
                    losers.add(ids[j])
    return sorted(set(ids) - losers)


def test_semantic_dedup_matches_numpy_reference(spark):
    """End-to-end against an independent NumPy implementation, including
    the keep-smallest-id rule on the planted dup pairs."""
    rows = _planted_vectors()
    centroids = S.lloyd_kmeans([r[1] for r in rows], 4, seed=7)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        r["vec_id"]
        for r in D.semantic_dedup(
            df, "vec_id", "embedding", centroids, threshold=0.9
        ).collect()
    )
    want = _numpy_semantic_reference(rows, centroids, 0.9)
    assert got == want
    # the planted dups actually exercised the drop path
    assert 101 not in got and 100 in got
    assert 201 not in got and 202 not in got and 200 in got


def test_semantic_dedup_stored_cell_matches_computed(spark):
    """The cell_col fast path must agree with on-the-fly assignment —
    the stored-column contract shared with ann_ivf_topk."""
    rows = _planted_vectors()
    centroids = S.lloyd_kmeans([r[1] for r in rows], 4, seed=7)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stamped = df.withColumn("cell", S.ivf_cell("embedding", centroids))
    on_the_fly = D.semantic_dedup_pairs(df, "vec_id", "embedding", centroids)
    stored = D.semantic_dedup_pairs(
        stamped, "vec_id", "embedding", centroids, cell_col="cell"
    )
    assert sorted(map(tuple, on_the_fly.collect())) == sorted(
        map(tuple, stored.select(on_the_fly.columns).collect())
    )


def test_semantic_dedup_threshold_monotone(spark):
    """Raising the threshold can only ADD survivors (fewer pairs cross)."""
    rows = _planted_vectors()
    centroids = S.lloyd_kmeans([r[1] for r in rows], 4, seed=7)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    strict = {
        r["vec_id"]
        for r in D.semantic_dedup(
            df, "vec_id", "embedding", centroids, threshold=0.5
        ).collect()
    }
    loose = {
        r["vec_id"]
        for r in D.semantic_dedup(
            df, "vec_id", "embedding", centroids, threshold=0.99
        ).collect()
    }
    assert strict <= loose


def test_incremental_semantic_dedup_across_batches(spark, tmp_path):
    """The daily-delta shape for embeddings: batch 2 is deduped against
    batch 1's (cell, unit) store — no batch-1 embeddings re-read — and a
    verbatim replay of batch 2 converges to the same survivors/store."""
    from etl_instagram_spark.operators.dedup import incremental_semantic_dedup
    from etl_instagram_spark.operators.merge import MergeTable

    rows = _planted_vectors()
    centroids = S.lloyd_kmeans([r[1] for r in rows], 4, seed=7)
    store = MergeTable(spark, str(tmp_path / "semstore"), "vec_id")

    b1 = spark.createDataFrame(
        [r for r in rows if r[0] < 100], "vec_id long, embedding array<double>"
    )
    s1 = incremental_semantic_dedup(
        b1, store, "vec_id", "embedding", centroids, threshold=0.9
    )
    n1 = s1.count()
    assert n1 == b1.count()  # base vectors are mutually non-duplicate at 0.9
    assert store.read().count() == n1

    # batch 2: 100/101 are near-identical (within-batch dup) and 201/202
    # duplicate batch-1 nothing but each other + 200 is new
    b2 = spark.createDataFrame(
        [r for r in rows if r[0] >= 100], "vec_id long, embedding array<double>"
    )
    s2 = sorted(
        r["vec_id"]
        for r in incremental_semantic_dedup(
            b2, store, "vec_id", "embedding", centroids, threshold=0.9
        ).collect()
    )
    assert 100 in s2 and 101 not in s2          # within-batch dup dropped
    assert 200 in s2 and 201 not in s2 and 202 not in s2
    store_ids = sorted(r["vec_id"] for r in store.read().collect())
    assert store_ids == sorted([r[0] for r in rows if r[0] < 100] + s2)

    # cross-HISTORY drop: a third batch re-sends 100's direction under a
    # new id — it must lose to the STORE entry, not to anything in-batch
    b3 = spark.createDataFrame(
        [(300, [x * 0.99 for x in dict((r[0], r[1]) for r in rows)[100]])],
        "vec_id long, embedding array<double>",
    )
    s3 = incremental_semantic_dedup(
        b3, store, "vec_id", "embedding", centroids, threshold=0.9
    )
    assert s3.count() == 0
    assert 300 not in {r["vec_id"] for r in store.read().collect()}

    # replay of batch 2 converges (own ids excluded, store unchanged)
    replay = sorted(
        r["vec_id"]
        for r in incremental_semantic_dedup(
            b2, store, "vec_id", "embedding", centroids, threshold=0.9
        ).collect()
    )
    assert replay == s2
    assert sorted(r["vec_id"] for r in store.read().collect()) == store_ids


def test_incremental_semantic_dedup_rejects_dim_mismatch(spark, tmp_path):
    from etl_instagram_spark.operators.dedup import incremental_semantic_dedup
    from etl_instagram_spark.operators.merge import MergeTable

    store = MergeTable(spark, str(tmp_path / "semstore"), "vec_id")
    cents = [[0.0, 0.0], [1.0, 1.0]]
    b1 = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    incremental_semantic_dedup(b1, store, "vec_id", "embedding", cents, 0.9)
    b2 = spark.createDataFrame(
        [(2, [0.5, 0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not comparable"):
        incremental_semantic_dedup(b2, store, "vec_id", "embedding", cents, 0.9)


@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_incremental_semantic_dedup_converges_to_single_batch(spark, tmp_path, data):
    """The semantic analogue of the MinHash convergence property: ANY
    batch split of one corpus yields one survivor per duplicate cluster
    — first arrival wins (min id within the cluster's earliest batch) —
    and every dropped doc has a surviving semantic duplicate. Clusters
    are orthogonal one-hot directions (within-cluster cosine exactly 1,
    across exactly 0) and the quantizer's centroids ARE the directions,
    so cell assignment can never blur the clusters."""
    import uuid

    from etl_instagram_spark.operators.dedup import incremental_semantic_dedup
    from etl_instagram_spark.operators.merge import MergeTable

    n_clusters = data.draw(st.integers(1, 4), label="n_clusters")
    docs = data.draw(
        st.lists(
            st.tuples(st.integers(0, n_clusters - 1), st.integers(0, 2)),
            min_size=1,
            max_size=10,
        ),
        label="docs",
    )
    dim = 4
    centroids = [[1.0 if j == c else 0.0 for j in range(dim)] for c in range(dim)]

    def vec_of(cluster: int, i: int) -> list[float]:
        scale = 1.0 + 0.1 * (i % 10)  # distinct rows, same direction
        return [scale if j == cluster else 0.0 for j in range(dim)]

    expect = {
        c: min(
            i
            for i, (cc, b) in enumerate(docs)
            if cc == c
            and b == min(bb for _, (c2, bb) in enumerate(docs) if c2 == c)
        )
        for c in {c for c, _b in docs}
    }

    store = MergeTable(spark, str(tmp_path / f"ss_{uuid.uuid4().hex[:8]}"), "vec_id")
    survivors: list[int] = []
    for b in (0, 1, 2):
        batch = [(i, vec_of(c, i)) for i, (c, bb) in enumerate(docs) if bb == b]
        if not batch:
            continue
        bdf = spark.createDataFrame(batch, "vec_id long, embedding array<double>")
        got = incremental_semantic_dedup(
            bdf, store, "vec_id", "embedding", centroids, threshold=0.9
        )
        survivors.extend(r["vec_id"] for r in got.collect())
    assert sorted(survivors) == sorted(expect.values())


# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------


def test_pq_codes_shape_and_range(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    cbs = S.fit_pq_codebooks(emb, m=8, k=16, seed=42, order_col="vec_id")
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8
    codes = emb.select(S.pq_code("embedding", cbs).alias("c")).collect()
    for r in codes:
        assert len(r["c"]) == 8
        assert all(0 <= c < 16 for c in r["c"])


def test_pq_fit_rejects_indivisible_dim(spark):
    df = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        S.fit_pq_codebooks(df, m=2, k=2, order_col="vec_id")


def test_pq_stored_codes_match_computed(spark, sf_oracle):
    """code_col path (the compressed-layout scan) must return exactly the
    on-the-fly-encoded result."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    cbs = S.fit_pq_codebooks(emb, m=8, k=16, seed=42, order_col="vec_id")
    qv = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    corpus = emb.filter("vec_id <> 3")
    stored = corpus.withColumn("code", S.pq_code("embedding", cbs))
    a = [tuple(r) for r in S.ann_pq_topk(corpus, qv, cbs, k=5).collect()]
    b = [
        tuple(r)
        for r in S.ann_pq_topk(stored, qv, cbs, k=5, code_col="code")
        .select("vec_id", "adc_dist")
        .collect()
    ]
    assert a == b


def test_pq_adc_is_exact_for_centroid_vectors(spark):
    """A vector that IS a concatenation of per-subspace centroids has ADC
    distance equal to the exact squared distance between the two codes'
    centroid chains — on such points the quantization error is zero, so
    ADC must rank them exactly."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cbs = S.fit_pq_codebooks(df, m=4, k=4, seed=1, order_col="vec_id")
    # build 6 synthetic vectors that sit exactly on centroid chains
    chains = []
    for i in range(6):
        v = []
        for j in range(4):
            v.extend(cbs[j][(i + j) % 4])
        chains.append((100 + i, [float(x) for x in v]))
    cdf = spark.createDataFrame(chains, "vec_id long, embedding array<double>")
    qv = chains[0][1]
    got = S.ann_pq_topk(cdf, qv, cbs, k=6).collect()
    exact = sorted(
        (
            float(np.sum((np.array(v) - np.array(qv)) ** 2)),
            i,
        )
        for i, v in chains
    )
    assert [r["vec_id"] for r in got] == [i for _, i in exact]
    for r, (d, _) in zip(got, exact):
        assert r["adc_dist"] == pytest.approx(d, abs=1e-6)


def test_pq_rerank_recall_not_below_adc(spark, sf_oracle):
    """The exact-rerank refinement (ADC shortlist → exact distance) must
    never score LOWER recall@10 than the raw ADC ranking it refines."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    cbs = S.fit_pq_codebooks(emb, m=8, k=16, seed=42, order_col="vec_id")
    rows = emb.collect()
    X = {int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64) for r in rows}
    for qid in (0, 1, 2):
        q = X[qid]
        gt = set(
            i
            for _, i in sorted(
                (float(np.sum((v - q) ** 2)), i) for i, v in X.items() if i != qid
            )[:10]
        )
        corpus = emb.filter(F.col("vec_id") != qid)
        qv = [float(x) for x in q]
        adc = set(r["vec_id"] for r in S.ann_pq_topk(corpus, qv, cbs, k=10).collect())
        rr = set(
            r["vec_id"]
            for r in S.ann_pq_topk(corpus, qv, cbs, k=10, rerank=100).collect()
        )
        assert len(gt & rr) >= len(gt & adc)


# ---------------------------------------------------------------------------
# IVFADC composed index
# ---------------------------------------------------------------------------


def _ivfpq_fixtures(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    cents = S.fit_ivf_centroids(emb, n_clusters=8, seed=42, order_col="vec_id")
    cbs = S.fit_pq_codebooks(emb, m=8, k=16, seed=42, order_col="vec_id")
    return emb, cents, cbs


def test_ivfpq_full_probe_big_rerank_equals_exact(spark, sf_oracle):
    """Probing every cell with a corpus-sized rerank budget degrades the
    index to brute force: the composed path must then return EXACTLY the
    exact-L2 top-k."""
    import numpy as np

    emb, cents, cbs = _ivfpq_fixtures(spark, sf_oracle)
    qv = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    corpus = emb.filter("vec_id <> 7")
    index = S.ann_index_rows(corpus, cents, cbs)
    got = S.ann_ivfpq_topk(
        index, corpus, qv, cents, cbs, k=10, n_probe=8, rerank=10_000
    ).collect()
    X = {
        int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
        for r in corpus.collect()
    }
    q = np.array(qv)
    exact = sorted((float(np.sqrt(np.sum((v - q) ** 2))), i) for i, v in X.items())[:10]
    assert [r["vec_id"] for r in got] == [i for _, i in exact]
    for r, (d, _) in zip(got, exact):
        assert r["l2_dist"] == pytest.approx(d, abs=1e-6)


def test_ivfpq_recall_monotone_in_probes(spark, sf_oracle):
    """More probed cells can only widen the exact-reranked candidate
    set — recall@10 must be non-decreasing in n_probe."""
    import numpy as np

    emb, cents, cbs = _ivfpq_fixtures(spark, sf_oracle)
    corpus = emb.filter("vec_id <> 0")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    index = S.ann_index_rows(corpus, cents, cbs)
    X = {
        int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
        for r in corpus.collect()
    }
    q = np.array(qv)
    gt = set(
        i
        for _, i in sorted((float(np.sum((v - q) ** 2)), i) for i, v in X.items())[:10]
    )
    recalls = []
    for n_probe in (1, 4, 8):
        got = set(
            r["vec_id"]
            for r in S.ann_ivfpq_topk(
                index, corpus, qv, cents, cbs, k=10, n_probe=n_probe, rerank=10_000
            ).collect()
        )
        recalls.append(len(gt & got))
    assert recalls == sorted(recalls)
    assert recalls[-1] == 10  # all cells + full rerank == exact


def test_ivfpq_rerank_scan_prunes_by_shortlist_ids(spark, sf_oracle, tmp_path):
    """r20 rerank shape: the raw-vector pass must carry the O(rerank)
    shortlist ids as an In predicate PUSHED into the parquet scan
    (row-group pruning by id statistics — the previous broadcast-join
    shape read the whole raw table per query), with no join at all;
    and the plan must match the pre-r20 broadcast-join results."""
    emb, cents, cbs = _ivfpq_fixtures(spark, sf_oracle)
    path = str(tmp_path / "ann_index")
    S.ann_index_rows(emb, cents, cbs).write.partitionBy("cell").parquet(path)
    index = spark.read.parquet(path)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    out = S.ann_ivfpq_topk(index, emb, qv, cents, cbs, k=5, n_probe=2, rerank=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    # the raw-side scan (the one reading `embedding`) must carry the
    # pushed id In-filter
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln or "Scan parquet" in ln]
    raw_scans = [s for s in scans if "embedding" in s]
    assert raw_scans, plan
    assert any("PushedFilters: [In(vec_id" in s for s in raw_scans), raw_scans
    # the returned distances must be the exact L2 for those ids (the
    # broadcast-join formulation computed precisely this; full semantic
    # parity with exact search is pinned by
    # test_ivfpq_full_probe_big_rerank_equals_exact)
    rows = out.collect()
    assert len(rows) == 5
    l2 = {
        r["vec_id"]: r["l2"]
        for r in emb.filter(
            F.col("vec_id").isin([int(r["vec_id"]) for r in rows])
        )
        .select(
            "vec_id",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            S.as_double(F.col("embedding")),
                            F.lit([float(x) for x in qv]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
                6,
            ).alias("l2"),
        )
        .collect()
    }
    for r in rows:
        assert r["l2_dist"] == l2[r["vec_id"]]
    got_pairs = [(r["l2_dist"], r["vec_id"]) for r in rows]
    assert got_pairs == sorted(got_pairs)


def test_pq_code_handles_zero_and_constant_vectors(spark):
    """Degenerate vectors must still encode (first-minimum tie-break),
    never NULL/except — a zero-norm row upstream cannot poison the
    index build."""
    import numpy as np

    rng = np.random.RandomState(5)
    base = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    df = spark.createDataFrame(
        base + [(100, [0.0] * 8), (101, [2.5] * 8)],
        "vec_id long, embedding array<double>",
    )
    cbs = S.fit_pq_codebooks(df, m=2, k=4, seed=9, order_col="vec_id")
    rows = {
        r["vec_id"]: r["c"]
        for r in df.select("vec_id", S.pq_code("embedding", cbs).alias("c")).collect()
    }
    for code in rows.values():
        assert len(code) == 2 and all(c is not None and 0 <= c < 4 for c in code)
    # identical input vectors encode identically regardless of id
    df2 = spark.createDataFrame(
        [(7, [2.5] * 8), (8, [2.5] * 8)], "vec_id long, embedding array<double>"
    )
    codes = [
        r["c"]
        for r in df2.select(S.pq_code("embedding", cbs).alias("c")).collect()
    ]
    assert codes[0] == codes[1]


def test_encode_exprs_tolerate_short_vectors_under_ansi(spark):
    """A malformed (short) vector must degrade the way the old
    NULL-tolerant folds did — NULL cell/code, bucket 0 — never throw
    under Spark 4's default ANSI mode (one bad landing row must not
    kill an ingest job)."""
    import numpy as np

    rng = np.random.RandomState(3)
    good = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    fit_df = spark.createDataFrame(good, "vec_id long, embedding array<double>")
    cents = S.fit_ivf_centroids(fit_df, n_clusters=2, seed=1, order_col="vec_id")
    cbs = S.fit_pq_codebooks(fit_df, m=2, k=2, seed=1, order_col="vec_id")
    planes = S.hyperplane_signs(3, 8)
    mixed = spark.createDataFrame(
        good[:2] + [(100, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    rows = {
        r["vec_id"]: (r["cell"], r["code"], r["bucket"])
        for r in mixed.select(
            "vec_id",
            S.ivf_cell("embedding", cents).alias("cell"),
            S.pq_code("embedding", cbs).alias("code"),
            S.lsh_bucket("embedding", planes).alias("bucket"),
        ).collect()
    }
    for i, _ in good[:2]:
        cell, code, bucket = rows[i]
        assert cell is not None and all(c is not None for c in code)
        assert 0 <= bucket < 8
    cell, code, bucket = rows[100]
    assert cell is None
    assert code is None or all(c is None for c in code)
    assert bucket == 0  # NULL plane sums sign as the old fold did


def test_pq_topk_rejects_rerank_below_k(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    cbs = S.fit_pq_codebooks(emb, m=8, k=16, seed=42, order_col="vec_id")
    cents = S.fit_ivf_centroids(emb, n_clusters=8, seed=42, order_col="vec_id")
    qv = [float(x) for x in emb.first()["embedding"]]
    with pytest.raises(ValueError, match="rerank budget"):
        S.ann_pq_topk(emb, qv, cbs, k=10, rerank=5)
    with pytest.raises(ValueError, match="rerank budget"):
        S.ann_ivfpq_topk(
            S.ann_index_rows(emb, cents, cbs), emb, qv, cents, cbs, k=10, rerank=5
        )


def test_int8_quantization_bounds_and_zero_vector(spark):
    """r16 scalar quantization: codes live in [-127, 127] with the max
    component landing on exactly ±127 (no clamp needed), per-component
    reconstruction error is bounded by scale/254, and the all-zero
    vector keeps scale 0.0 with all-zero codes."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.similarity import (
        dequantize_col,
        quantize_embeddings,
    )

    rows = [
        (0, [0.5, -1.0, 0.25, 0.125]),
        (1, [3.0, 2.0, -3.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [1e-8, -2e-8, 1.5e-8, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qz = quantize_embeddings(df).withColumn(
        "d", dequantize_col(F.col("q"), F.col("scale"))
    )
    got = {r["vec_id"]: r for r in qz.collect()}
    for vid, vec in rows:
        r = got[vid]
        scale = max(abs(x) for x in vec)
        assert r["scale"] == scale
        assert all(-127 <= q <= 127 for q in r["q"])
        if scale > 0:
            # the max-magnitude component hits exactly +/-127
            assert 127 in [abs(q) for q in r["q"]]
            for x, xd in zip(vec, r["d"]):
                assert abs(x - xd) <= scale / 254 + 1e-15
        else:
            assert list(r["q"]) == [0, 0, 0, 0]
            assert list(r["d"]) == [0.0, 0.0, 0.0, 0.0]


def test_int8_quantization_empty_vector_guard(spark):
    """r17 (ADVICE): array_max of an EMPTY array is NULL, and before the
    coalesce guard the scale==0.0 predicate went NULL so q silently
    became NULL. Pinned: empty vector -> scale 0.0, empty (not NULL)
    codes, empty reconstruction — in the Column API and the SQL mirror."""
    import duckdb

    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.similarity import (
        dequantize_col,
        quantize_embeddings,
        quantize_sql,
    )

    df = spark.createDataFrame(
        [(0, []), (1, [2.0, -4.0])], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r
        for r in quantize_embeddings(df)
        .withColumn("d", dequantize_col(F.col("q"), F.col("scale")))
        .collect()
    }
    assert got[0]["scale"] == 0.0
    assert got[0]["q"] == [] and got[0]["q"] is not None
    assert got[0]["d"] == []
    assert got[1]["scale"] == 4.0 and got[1]["q"] == [64, -127]
    scale, q = quantize_sql("v")
    drow = duckdb.sql(
        f"SELECT {scale} AS scale, {q} AS q FROM (SELECT []::DOUBLE[] AS v)"
    ).fetchone()
    assert drow[0] == 0.0 and drow[1] == []


def test_quantized_ann_rerank_recall_bound(spark):
    """r17 composed serving path (quantize -> IVF probe on dequantized
    codes -> exact float re-rank): per query, the quantized path's
    recall@10 must sit within 0.1 of the float-IVF path on the same
    probe sets (the compression step may only lose a whisker — measured
    ZERO loss at sf0.001: probe loss dominates entirely), and the probe
    must actually prune (candidates < corpus)."""
    from etl_instagram_spark.plans.extras_emb import _emb_quantized_ann_rerank

    sf = "/root/testdata/sf0.001"
    n_corpus = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    rows = _emb_quantized_ann_rerank(spark, sf).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["recall_quant"] >= r["recall_float"] - 0.1, r
        assert 0 < r["n_cand_quant"] < n_corpus, r
    assert sum(r["recall_quant"] for r in rows) / 5 >= 0.3


def test_int8_quantization_preserves_cosine_on_real_embeddings(spark):
    """Reconstruction cosine > 0.999 on every real sf0.001 embedding —
    the property the compression step is for."""
    from pyspark.sql import functions as F

    from etl_instagram_spark.operators.similarity import (
        as_double,
        dequantize_col,
        quantize_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qz = quantize_embeddings(emb).join(
        emb.select("vec_id", as_double(F.col("embedding")).alias("v")),
        "vec_id",
    )
    d = dequantize_col(F.col("q"), F.col("scale"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cos = dot(d, F.col("v")) / (
        F.sqrt(dot(d, d)) * F.sqrt(dot(F.col("v"), F.col("v")))
    )
    worst = qz.select(F.min(cos).alias("m")).first()["m"]
    assert worst > 0.999
