"""Dedup + similarity operators: exact groups, shingles, MinHash-LSH on a
planted near-duplicate, SimHash hamming, brute-force vs ANN top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.functions.text import tokenize
from nashville_etl_service_backup_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_near_dup_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash64_from_hashes,
    simhash_near_dup_pairs,
    simhash_pairs_from_sigs,
)
from nashville_etl_service_backup_spark.operators.similarity import (
    as_double,
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucket_topk,
)
from nashville_etl_service_backup_spark.operators.text_analysis import bag_fingerprint

BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "loud rock music on the main stage tonight under bright lights"
)
NEAR = BASE.replace("lazy", "sleepy")  # one token differs
FAR = "completely different text about databases and query optimization engines"


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)],  # 4 = exact dup of 1
        "doc_id long, text string",
    )


def test_exact_dedup_groups_and_keep(spark):
    docs = _docs(spark)
    groups = exact_dedup_groups(docs, "doc_id", bag_fingerprint(F.col("text")))
    g = groups.collect()
    # min_doc_id is the kept representative of each exact-dup group
    assert len(g) == 1 and g[0].n_docs == 2 and g[0].min_doc_id == 1


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    row = df.select(shingles(tokenize(F.col("t")), 2).alias("s")).collect()[0]
    assert row.s == ["a b", "b c", "c d"]
    row3 = df.select(shingles(tokenize(F.col("t")), 3).alias("s")).collect()[0]
    assert row3.s == ["a b c", "b c d"]


def test_lsh_finds_planted_near_dup(spark):
    pairs = lsh_near_dup_pairs(_docs(spark), "doc_id", "text", threshold=0.5)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert (1, 4) in got and got[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in got and 0.5 <= got[(1, 2)] < 1.0  # planted near-dup
    assert not any(3 in p for p in got)  # unrelated doc never pairs


def test_ngram_pairs_skip_docs_without_grams(spark):
    """Docs shorter than n have no n-grams: they never pair (the DuckDB
    oracle's NULL band keys), instead of all colliding on the empty
    set's sentinel keys and dividing 0/0 in the verify."""
    short = spark.createDataFrame([(5, "ab"), (6, "!!"), (7, None)], "doc_id long, text string")
    pairs = ngram_jaccard_pairs(_docs(spark).unionByName(short), "doc_id", "text")
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 4) in got and (1, 2) in got
    assert not any(d in p for p in got for d in (5, 6, 7))


def test_simhash_near_dup(spark):
    docs = _docs(spark)
    hashes = F.transform(tokenize(F.col("text")), F.md5)
    sig = docs.select(simhash64_from_hashes(hashes).alias("s")).collect()
    assert all(len(r.s) == 64 and set(r.s) <= {"0", "1"} for r in sig)
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=10)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    assert got[(1, 4)] == 0  # identical text → identical signature
    assert (1, 2) in got  # near-dup within hamming 10
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_pairs_never_pair_a_repeated_id(spark):
    """A repeated doc_id with two different signatures never pairs with
    itself: the pair order is the id order, not the (id, sig) order of
    the join key that carries each signature."""
    base = spark.createDataFrame(
        [(1, "0" * 64), (1, "0" * 63 + "1"), (2, "0" * 62 + "11"), (None, "0" * 64)],
        "doc_id long, sig string",
    )
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs_from_sigs(base, max_hamming=3).collect()
    )
    assert got == [(1, 2, 1), (1, 2, 2)]


def _emb(spark):
    import math

    rows = []
    for i in range(50):
        # ring of unit vectors in 2D padded to 8 dims; vec 1 closest to vec 0
        ang = i * 0.12
        rows.append((i, [math.cos(ang), math.sin(ang)] + [0.0] * 6))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    top = cosine_topk(
        emb.filter(F.col("vec_id") != 0), q, k=3, extra_cols=()
    ).collect()
    assert [r.vec_id for r in top] == [1, 2, 3]  # angular order
    assert top[0].cosine > top[1].cosine > top[2].cosine


def test_ann_lsh_contains_true_neighbor(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    ann = lsh_bucket_topk(
        emb.filter(F.col("vec_id") != 0), q, k=5, dim=8, n_planes=2, extra_cols=()
    ).collect()
    assert len(ann) >= 1
    # every ANN hit must be a genuinely close vector (cosine sanity)
    assert all(r.cosine > 0.5 for r in ann)


def test_embedding_near_dup_pairs(spark):
    import math

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dup_pairs(
        emb, dim=4, bands=2, planes_per_band=2, threshold=0.99
    )
    got = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert got == [(1, 2)]


def test_connected_components_chains_pairs(spark):
    from nashville_etl_service_backup_spark.operators.dedup import (
        connected_components,
    )

    # two clusters: {1,2,5} chained via (1,2),(2,5); {7,9} direct
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (7, 9)], "doc_a long, doc_b long"
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (5, 1), (7, 7), (9, 7)}


def test_resolve_duplicates_keeps_representatives(spark):
    from nashville_etl_service_backup_spark.operators.dedup import (
        resolve_duplicates,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 11)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (7, 9)], "doc_a long, doc_b long"
    )
    kept = {r["doc_id"] for r in resolve_duplicates(docs, "doc_id", pairs).collect()}
    # drop 2,5 (cluster rep 1) and 9 (cluster rep 7)
    assert kept == {1, 3, 4, 6, 7, 8, 10}


def test_connected_components_matches_union_find(spark):
    """The label seed already applies round 1 (least(src, min(dst))):
    same components as a union-find on a 6-chain, a star and two
    disjoint pairs, and the job budget pins the one-shuffle rounds."""
    from nashville_etl_service_backup_spark.operators.dedup import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(1, 6)]
    star = [(10, 14), (10, 11), (10, 13), (10, 12)]
    edges = chain + star + [(21, 20), (30, 31)]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    sc = spark.sparkContext
    group = "test-cc-union-find"
    sc.setJobGroup(group, "connected_components")
    try:
        got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == want
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # the seed aggregate + one-shuffle supersteps (2 jobs each), each
    # round's convergence sum observed on its checkpoint job
    assert len(jobs) <= 13, jobs


def test_connected_components_empty_pairs(spark):
    from nashville_etl_service_backup_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def test_bm25_ranks_term_heavy_doc_first(spark):
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark runs fast"),
            (2, "spark is a framework"),
            (3, "ducks swim in the pond"),
            (4, "window functions in spark spark"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, "doc_id", "text", ["spark"], k=4).collect()
    assert rows[0]["doc_id"] == 1  # highest tf
    assert rows[-1]["doc_id"] == 3  # no hit
    assert rows[-1]["bm25"] == 0.0
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_release_persisted_frees_signature_caches(spark):
    """Signature frames persisted inside the banded dedup operators must
    be freed by release_persisted() once the result is consumed — a
    long-running service would otherwise accumulate one cached frame per
    query forever."""
    from nashville_etl_service_backup_spark.operators import release_persisted
    from nashville_etl_service_backup_spark.queries.llmdata import (
        dedup_clusters,
        dedup_embedding_pairs,
        dedup_lsh_pairs,
        dedup_ngram_jaccard,
        llm_corpus_curation,
    )

    release_persisted()  # drop anything earlier tests left behind
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    for fn in (
        dedup_lsh_pairs,
        dedup_ngram_jaccard,
        dedup_embedding_pairs,
        dedup_clusters,
        llm_corpus_curation,
    ):
        fn(spark, "/root/testdata/sf0.001").count()
    during = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert len(during - before) >= 3  # each query cached its signatures
    released = release_persisted()
    assert released >= 3
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set()


def test_ivf_kmeans_recall_not_worse_than_first_n(spark):
    """VERDICT r1 #5: the Lloyd's coarse quantizer must not lose recall
    vs the old first-N-vectors quantizer (measured: 0.2 vs 0.1 @sf0.001,
    0.6 vs 0.6 @sf0.01 at both 1 and 2 iterations, k=10,
    n_probe=2/16)."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        as_double,
        cosine_topk,
        ivf_topk,
    )
    from nashville_etl_service_backup_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") == 42).select(
        as_double(F.col("embedding")).alias("qv")
    )
    rest = emb.filter(F.col("vec_id") != 42)
    truth = {r[0] for r in cosine_topk(rest, q, k=10).collect()}

    def recall(iters: int) -> float:
        got = {
            r[0]
            for r in ivf_topk(
                rest, q, k=10, n_centroids=16, n_probe=2, kmeans_iters=iters
            ).collect()
        }
        return len(truth & got) / 10

    assert recall(1) >= recall(0)
    assert recall(2) >= recall(0)


def test_connected_components_warns_on_non_convergence(spark):
    import warnings

    from nashville_etl_service_backup_spark.operators.dedup import (
        connected_components,
    )

    # a 6-node chain has diameter 5: max_iter=1 cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(pairs, max_iter=1).collect()
    assert any("did not converge" in str(w.message) for w in caught)


def test_semantic_dedup_pairs_planted(spark):
    """SemDeDup: a planted near-identical vector must surface as a
    within-cluster pair; ring neighbors (cos ≈ 0.955) stay below the
    threshold."""
    import math

    from nashville_etl_service_backup_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    rows = [
        (i, [math.cos(i * 0.3), math.sin(i * 0.3)] + [0.0] * 6)
        for i in range(20)
    ]
    # near-dup of vec 7 (perturbed in the 1st component only)
    rows.append(
        (100, [math.cos(0.3 * 7) + 1e-4, math.sin(0.3 * 7)] + [0.0] * 6)
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(
        emb, n_centroids=4, kmeans_iters=1, threshold=0.9999
    )
    got = [(r.vec_a, r.vec_b) for r in pairs.collect()]
    assert got == [(7, 100)]


def test_semantic_dedup_ranked_mode(spark):
    import math

    from nashville_etl_service_backup_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    rows = [
        (i, [math.cos(i * 0.3), math.sin(i * 0.3)] + [0.0] * 6)
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = semantic_dedup_pairs(
        emb, n_centroids=3, kmeans_iters=1, top_k=5
    ).collect()
    assert len(top) == 5
    cosines = [r.cosine for r in top]
    assert cosines == sorted(cosines, reverse=True)
    assert all(r.vec_a < r.vec_b for r in top)


def test_pq_adc_rerank_recall(spark):
    """PQ (8 blocks × 64 codewords, ADC shortlist 100 + exact re-rank)
    must recover most of the exact top-10 — measured 10/10 at sf0.01 and
    sf0.001 for vec_id=42; pinned at ≥ 7/10 to tolerate testdata
    regeneration."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        as_double,
        cosine_topk,
        pq_topk,
    )
    from nashville_etl_service_backup_spark.tables import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") == 42).select(
            as_double(F.col("embedding")).alias("qv")
        )
        rest = emb.filter(F.col("vec_id") != 42)
        truth = {r[0] for r in cosine_topk(rest, q, k=10).collect()}
        got = {
            r[0]
            for r in pq_topk(
                rest, q, k=10, m=8, codes=64, iters=1, shortlist=100
            ).collect()
        }
        assert len(truth & got) >= 7, (sf, len(truth & got))


def test_rrf_fuse(spark):
    """RRF combines ranks with 1/(60+r); absent ids contribute 0; ties
    broken by id."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        rrf_fuse,
    )
    from pyspark.sql import functions as F

    a = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0)], "doc_id long, s1 double"
    )
    b = spark.createDataFrame(
        [(2, 0.9), (4, 0.8), (1, 0.7)], "doc_id long, s2 double"
    )
    rows = {
        r["doc_id"]: (r["rank_0"], r["rank_1"], r["rrf"])
        for r in rrf_fuse([(a, "s1"), (b, "s2")], k=10).collect()
    }
    assert rows[1] == (1, 3, round(1 / 61 + 1 / 63, 6))
    assert rows[2] == (2, 1, round(1 / 62 + 1 / 61, 6))
    assert rows[3] == (3, None, round(1 / 63, 6))
    assert rows[4] == (None, 2, round(1 / 62, 6))
    # doc 2 wins: best combined ranks
    top = sorted(rows.items(), key=lambda kv: (-kv[1][2], kv[0]))[0][0]
    assert top == 2


def test_snapshot_delta(spark):
    from nashville_etl_service_backup_spark.operators.dedup import (
        snapshot_delta,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, fp string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id long, fp string"
    )
    got = {
        r["doc_id"]: r["status"]
        for r in snapshot_delta(old, new, "doc_id", "fp").collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_jl_topk_recall_vs_bruteforce(spark):
    """JL-compressed shortlist + exact re-rank must recover most of the
    true top-10 (the 16-dim projection preserves angles within the JL
    bound; re-rank makes hits exact)."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        as_double,
        cosine_topk,
        jl_topk,
    )
    from nashville_etl_service_backup_spark.tables import load

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    base = emb.filter(F.col("vec_id") != 0)
    truth = {r["vec_id"] for r in cosine_topk(base, query, k=10).collect()}
    got = {r["vec_id"] for r in jl_topk(base, query, k=10).collect()}
    assert len(truth & got) >= 7
    # exactness of hits: re-ranked cosines equal brute-force cosines
    t = {r["vec_id"]: r["cosine"] for r in cosine_topk(base, query, k=10).collect()}
    g = {r["vec_id"]: r["cosine"] for r in jl_topk(base, query, k=10).collect()}
    for vid in truth & got:
        assert t[vid] == g[vid]


def test_silhouette_crisp_vs_weak_clusters(spark):
    """Simplified silhouette should approach 1 on well-separated
    clusters; the real-embedding query reports per-cluster means that
    must sit in [-1, 1] with b >= a for the assigned centroid."""
    from nashville_etl_service_backup_spark.queries.llmdata import (
        sim_cluster_silhouette,
    )

    rows = sim_cluster_silhouette(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["avg_silhouette"] <= 1.0
        # by construction the own centroid is the max-cosine one, so the
        # nearest-other distance can never be smaller on average
        assert r["avg_nearest_other"] >= r["avg_intra"] - 1e-9


def test_pca_power_matches_numpy_axis(spark):
    import numpy as np

    from nashville_etl_service_backup_spark.operators.similarity import (
        pca_power_top1,
    )
    from nashville_etl_service_backup_spark.tables import load

    vecs = load(spark, "/root/testdata/sf0.001", "embeddings")
    out = pca_power_top1(vecs, "embedding", dim=64, iters=8).collect()
    assert [r.dim_idx for r in out] == list(range(64))
    v = np.array([r.loading for r in out])
    lam = out[0].eigenvalue
    share = out[0].explained_share
    # round-6 unit vector, positive dominant eigenvalue, sane share
    assert abs(float(v @ v) - 1.0) < 1e-4
    assert lam > 0.0
    assert 0.0 < share <= 1.0
    # Rayleigh identity on the same round-6 Gram: the reported
    # eigenvalue must equal v·Gv / v·v for the returned axis (the
    # corpus spectrum is near-isotropic at this SF, so 8 fixed rounds
    # need NOT find the global top axis — convergence is pinned by
    # the anisotropic toy below)
    x = np.round(
        np.array([row.embedding for row in vecs.collect()], dtype=np.float64),
        6,
    )
    g = x.T @ x
    assert abs(lam - float(v @ g @ v) / float(v @ v)) < 1e-3
    assert lam <= float(np.linalg.eigvalsh(g)[-1]) + 1e-6


def test_pca_power_converges_on_anisotropic_toy(spark):
    import numpy as np

    from nashville_etl_service_backup_spark.operators.similarity import (
        pca_power_top1,
    )

    # 200 vectors with one dominant direction + small deterministic
    # noise: a real spectral gap, so 8 power rounds must align with
    # the true top eigenvector
    rng = np.random.default_rng(7)
    axis = rng.normal(size=8)
    axis /= np.linalg.norm(axis)
    scale = rng.normal(size=(200, 1)) * 3.0
    x = scale * axis + rng.normal(size=(200, 8)) * 0.1
    rows = [(i, [float(c) for c in x[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    out = pca_power_top1(df, "embedding", dim=8, iters=8).collect()
    v = np.array([r.loading for r in out])
    g = np.round(x, 6).T @ np.round(x, 6)
    evals, evecs = np.linalg.eigh(g)
    assert abs(float(v @ evecs[:, -1])) > 0.999
    assert abs(out[0].eigenvalue - float(evals[-1])) / float(evals[-1]) < 1e-3
    assert (
        abs(out[0].explained_share - float(evals[-1] / np.trace(g))) < 1e-3
    )


def test_pca_power_partition_invariant(spark):
    from nashville_etl_service_backup_spark.operators.similarity import (
        pca_power_top1,
    )
    from nashville_etl_service_backup_spark.tables import load

    vecs = load(spark, "/root/testdata/sf0.001", "embeddings")
    a = pca_power_top1(vecs, "embedding", dim=64, iters=8).collect()
    b = pca_power_top1(
        vecs.repartition(17), "embedding", dim=64, iters=8
    ).collect()
    assert a == b


def test_int8_quantize_topk_recall_and_error(spark):
    """Int8 global max-abs quantization must keep most of the exact
    inner-product top-10 (in_quant_topk flags) and the dequantized dot
    must track the exact dot within the quantization step bound
    (64 dims x s/127 half-steps; loose factor for accumulation)."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        as_double,
        int8_quantize_topk,
    )
    from nashville_etl_service_backup_spark.tables import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load(spark, sf, "embeddings")
        query = emb.filter(F.col("vec_id") == 7).select(
            as_double(F.col("embedding")).alias("qv")
        )
        rows = int8_quantize_topk(
            emb.filter(F.col("vec_id") != 7), query, k=10
        ).collect()
        assert len(rows) == 10
        assert sum(r["in_quant_topk"] for r in rows) >= 7
        s = (
            emb.filter(F.col("vec_id") != 7)
            .agg(
                F.max(
                    F.array_max(
                        F.transform(
                            as_double(F.col("embedding")),
                            lambda x: F.abs(x),
                        )
                    )
                )
            )
            .first()[0]
        )
        step = s / 127.0
        bound = 64 * step * 2.0  # 64 dims, half-step each side, slack
        for r in rows:
            assert abs(r["dot_exact"] - r["dot_quant"]) <= bound


def test_mmr_topk_skips_near_duplicates(spark):
    """With two near-identical high-relevance vectors, plain top-2 takes
    both; MMR's redundancy penalty must pick one of them plus the
    moderately-relevant diverse vector instead."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        as_double,
        mmr_topk,
    )
    from pyspark.sql import functions as F

    q = [1.0, 0.0, 0.0, 0.0]
    a = [0.99, 0.1, 0.0, 0.0]      # near-dup pair, both very relevant
    a2 = [0.985, 0.11, 0.0, 0.0]
    b = [0.7, 0.0, 0.7, 0.0]       # diverse, moderately relevant
    c = [0.1, 0.1, 0.0, 0.9]       # filler
    rows = [(0, q), (1, a), (2, a2), (3, b), (4, c)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    query = df.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    out = mmr_topk(
        df.filter(F.col("vec_id") != 0), query, k=2, shortlist=4, lam=0.5
    ).collect()
    picked = [r["vec_id"] for r in out]
    assert picked[0] == 1          # most relevant first
    assert picked[1] == 3          # diverse beats the near-dup twin
    assert out[0]["mmr_rank"] == 1 and out[1]["mmr_rank"] == 2


def test_ndcg_perfect_and_degraded(spark):
    """Identical ranking scores NDCG=1; pushing the best item to the
    bottom must strictly lower it."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        ndcg_at_k,
    )

    ideal = spark.createDataFrame(
        [(i, 1.0 - i * 0.05) for i in range(1, 6)], ["vec_id", "cosine"]
    )
    perfect = ndcg_at_k(ideal, ideal, k=5).collect()[0]
    assert perfect["ndcg"] == 1.0 and perfect["n_hits"] == 5
    # same items, best item demoted to last place
    degraded_rows = [(1, 0.1)] + [(i, 1.0 - i * 0.05) for i in range(2, 6)]
    degraded = spark.createDataFrame(degraded_rows, ["vec_id", "cosine"])
    worse = ndcg_at_k(degraded, ideal, k=5).collect()[0]
    assert worse["n_hits"] == 5
    assert worse["ndcg"] < 1.0


def test_kmeans_known_dim_matches_generic_path(spark):
    """The argmax-carry + wide-decimal-aggregate round (dim known) must
    produce the exact centroids of the generic posexplode formulation
    (dim=None) — same assignments, same order-independent decimal sums."""
    import random

    from nashville_etl_service_backup_spark.operators import (
        release_persisted,
    )
    from nashville_etl_service_backup_spark.operators.similarity import (
        kmeans_centroids,
    )

    rng = random.Random(7)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(8)])
        for i in range(60)
    ]
    base = spark.createDataFrame(rows, "vec_id long, v array<double>")
    fast = {
        r["cent_id"]: r["cv"]
        for r in kmeans_centroids(
            base, n_centroids=4, iters=2, dim=8
        ).collect()
    }
    generic = {
        r["cent_id"]: r["cv"]
        for r in kmeans_centroids(
            base, n_centroids=4, iters=2, dim=None
        ).collect()
    }
    release_persisted()
    assert fast == generic


def test_jl_projection_null_and_ragged_vectors_project_to_null(spark):
    """Null or wrong-width embedding vectors must not crash the Arrow
    worker — they project to null (and rank last in any shortlist),
    matching expression-path null propagation."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        jl_project_vectorized,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, None),
            (3, [1.0]),
            (4, [0.5, -0.5]),
            (5, [1.0, None]),
            (6, [float("nan"), 1.0]),
            (7, [float("inf"), 1.0]),
        ],
        "id long, v array<double>",
    )
    proj = jl_project_vectorized([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    got = {
        r["id"]: r["p"]
        for r in df.select("id", proj(F.col("v")).alias("p")).collect()
    }
    assert got[1] == [1.0, 2.0, 3.0]
    assert got[2] is None
    assert got[3] is None
    assert got[4] == [0.5, -0.5, 0.0]
    # non-finite elements (null→NaN under numpy, NaN, inf) must also
    # project to null: Spark sorts NaN above all doubles, so a NaN
    # projection would rank FIRST in a desc shortlist instead of last
    assert got[5] is None
    assert got[6] is None
    assert got[7] is None


def test_nearest_centroid_tie_breaks_to_higher_cid(spark):
    """Two centroids at identical cosine to a vector must deterministically
    assign to the HIGHER cent_id — the (c, cid) struct total order the
    array_max device shares with the old max(struct) aggregate and the
    DuckDB oracles."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        ivf_assign,
    )

    emb = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    # cents 3 and 7 are identical vectors: cosine ties for every input
    cents = spark.createDataFrame(
        [(3, [1.0, 1.0]), (7, [1.0, 1.0]), (1, [-1.0, -1.0])],
        "cent_id long, cv array<double>",
    )
    got = {
        r["vec_id"]: r["cent_id"]
        for r in ivf_assign(emb, cents, dim=2).collect()
    }
    assert got == {10: 7, 11: 7}


def test_ivf_assign_matches_bruteforce_argmax(spark):
    """The per-row array_max assignment must agree with an explicit
    per-vector python argmax over exact cosines on a random frame."""
    import math
    import random

    from nashville_etl_service_backup_spark.operators.similarity import (
        ivf_assign,
    )

    rng = random.Random(13)
    vec_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)
    ]
    cent_rows = [
        (c, [rng.uniform(-1, 1) for _ in range(6)]) for c in range(5)
    ]
    emb = spark.createDataFrame(vec_rows, "vec_id long, v array<double>")
    cents = spark.createDataFrame(
        cent_rows, "cent_id long, cv array<double>"
    )

    def cos(a, b):
        num = math.fsum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(math.fsum(x * x for x in a))
            * math.sqrt(math.fsum(y * y for y in b))
        )

    want = {
        i: max(
            ((cos(v, cv), c) for c, cv in cent_rows),
            key=lambda t: (t[0], t[1]),
        )[1]
        for i, v in vec_rows
    }
    got = {
        r["vec_id"]: r["cent_id"]
        for r in ivf_assign(emb, cents, dim=6).collect()
    }
    assert got == want


def test_nearest_centroid_vectorized_degenerate_rows_null(spark):
    """Null / wrong-width / non-finite vectors must not crash the Arrow
    worker — they assign to a null cent_id (the jl_project_vectorized
    convention), never to a spurious cluster."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        ivf_assign,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, None),
            (3, [1.0]),
            (4, [float("nan"), 1.0]),
            (5, [float("inf"), 1.0]),
            (6, [0.5, None]),
        ],
        "vec_id long, v array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cent_id long, cv array<double>"
    )
    got = {
        r["vec_id"]: r["cent_id"]
        for r in ivf_assign(emb, cents, dim=2).collect()
    }
    assert got == {1: 0, 2: None, 3: None, 4: None, 5: None, 6: None}


def test_pq_assign_vectorized_matches_join_argmax(spark):
    """The Arrow-vectorized per-block codeword sweep must produce the
    exact codes of the broadcast-join + groupBy(id, block).max(struct)
    reference twin on a random frame — same chain-order cosines, same
    ties→larger-code total order."""
    import random

    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        _pq_assign,
        pq_assign_vectorized,
        pq_codebook_artifact,
    )

    rng = random.Random(29)
    sub, m, k = 4, 3, 5
    block_rows = [
        (i, b, [rng.uniform(-1, 1) for _ in range(sub)])
        for i in range(30)
        for b in range(m)
    ]
    blocks = spark.createDataFrame(
        block_rows, "vec_id long, block int, v array<double>"
    )
    cent_rows = [
        (b, c, [rng.uniform(-1, 1) for _ in range(sub)])
        for b in range(m)
        for c in range(k)
    ]
    # duplicate block-0 code-0's codeword under a larger code: every
    # vector whose argmax lands there ties and must break to code k
    cent_rows.append((0, k, list(cent_rows[0][2])))
    cents = spark.createDataFrame(
        cent_rows, "block int, cent_id long, cv array<double>"
    )
    ref = {
        (r["vec_id"], r["block"]): r["cent_id"]
        for r in _pq_assign(blocks, cents, "vec_id", sub).collect()
    }
    assign = pq_assign_vectorized(pq_codebook_artifact(cents))
    got = {
        (r["vec_id"], r["block"]): r["cent_id"]
        for r in blocks.select(
            "vec_id",
            "block",
            assign(F.col("block"), F.col("v")).alias("cent_id"),
        ).collect()
    }
    assert got == ref


def test_pq_assign_vectorized_per_block_code_sets(spark):
    """Blocks may end a training round with DIFFERENT surviving code
    sets (empty codewords drop out of the decimal re-centering, per
    block). The vectorized sweep must score each block only against
    ITS codebook — never a union — and still match the join+argmax
    reference twin."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        _pq_assign,
        pq_assign_vectorized,
        pq_codebook_artifact,
    )

    blocks = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (1, 1, [0.0, 1.0]),
            (2, 0, [0.7, 0.7]),
            (2, 1, [-1.0, 0.2]),
        ],
        "vec_id long, block int, v array<double>",
    )
    # block 0 kept codes {0, 3}; block 1 kept only {5}
    cents = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.1]),
            (0, 3, [0.1, 1.0]),
            (1, 5, [-0.5, 0.5]),
        ],
        "block int, cent_id long, cv array<double>",
    )
    ref = {
        (r["vec_id"], r["block"]): r["cent_id"]
        for r in _pq_assign(blocks, cents, "vec_id", 2).collect()
    }
    assign = pq_assign_vectorized(pq_codebook_artifact(cents))
    got = {
        (r["vec_id"], r["block"]): r["cent_id"]
        for r in blocks.select(
            "vec_id",
            "block",
            assign(F.col("block"), F.col("v")).alias("cent_id"),
        ).collect()
    }
    assert got == ref
    assert got[(1, 1)] == 5 and got[(2, 1)] == 5  # only block-1 code


def test_centroid_top2_vectorized_matches_sorted_scores(spark):
    """The promote/second sweep must return exactly the first two
    elements of the (c desc, cid desc) sort of the per-centroid score
    array — pinned against the centroid_scores + sort_array expression
    path on a random frame (includes a duplicated centroid so top-1
    and top-2 tie-break on cid)."""
    import random

    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        centroid_artifact,
        centroid_row,
        centroid_scores,
        centroid_top2_vectorized,
        norm_unrolled,
    )

    rng = random.Random(41)
    dim = 5
    vec_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(50)
    ]
    cent_rows = [
        (c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(6)
    ]
    cent_rows.append((6, list(cent_rows[2][1])))  # duplicate → cid ties
    emb = spark.createDataFrame(vec_rows, "vec_id long, v array<double>")
    cents = spark.createDataFrame(
        cent_rows, "cent_id long, cv array<double>"
    )
    crow = centroid_row(cents, dim=dim)
    scores = centroid_scores(
        F.col("v"), norm_unrolled(F.col("v"), dim), F.col("_cents"), dim
    )
    top2 = F.slice(F.sort_array(scores, False), 1, 2)
    want = {
        r["vec_id"]: (
            r["_t"][0]["cid"],
            r["_t"][0]["c"],
            r["_t"][1]["c"],
        )
        for r in emb.crossJoin(F.broadcast(crow))
        .select("vec_id", top2.alias("_t"))
        .collect()
    }
    sweep = centroid_top2_vectorized(*centroid_artifact(cents))
    got = {
        r["vec_id"]: (r["_m"]["cid"], r["_m"]["c1"], r["_m"]["c2"])
        for r in emb.select(
            "vec_id", sweep(F.col("v")).alias("_m")
        ).collect()
    }
    assert got == want


def test_kmeans_multi_iter_degenerate_rows_do_not_crash(spark):
    """A degenerate vector (null / ragged / non-finite) gets a null
    cent_id from the vectorized sweep; the re-centering aggregate must
    DROP that NULL group instead of training a cent_id=NULL centroid —
    which would crash centroid_artifact's next-round collect with a
    None-vs-int sort TypeError (ADVICE r6 #1)."""
    import math

    from nashville_etl_service_backup_spark.operators import (
        release_persisted,
    )
    from nashville_etl_service_backup_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.9, 0.1]),
            (3, [0.1, 0.9]),
            (4, None),
            (5, [1.0]),
            (6, [float("nan"), 1.0]),
        ],
        "vec_id long, v array<double>",
    )
    cents = kmeans_centroids(
        emb, n_centroids=2, iters=3, vec_col="v", dim=2
    ).collect()
    release_persisted()
    assert len(cents) == 2
    assert all(r["cent_id"] is not None for r in cents)
    assert all(
        all(x is not None and math.isfinite(x) for x in r["cv"])
        for r in cents
    )


def test_pq_topk_survives_all_zero_embedding(spark):
    """pq_topk normalizes first, so one all-zero embedding becomes an
    all-NaN vector whose block slices assign to a null code; pq_fit's
    re-centering must drop those NULL groups instead of crashing the
    codebook-artifact collect (ADVICE r6 #1 repro path). The zero
    vector simply drops out of the index; real neighbors still rank."""
    import random

    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators import (
        release_persisted,
    )
    from nashville_etl_service_backup_spark.operators.similarity import (
        pq_topk,
    )

    rng = random.Random(7)
    dim = 8
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], "d")
        for i in range(80)
    ]
    rows.append((80, [0.0] * dim, "z"))  # the poison row
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    got = pq_topk(
        emb.filter(F.col("vec_id") != 0),
        q,
        k=5,
        m=2,
        codes=4,
        iters=2,
        shortlist=20,
        dim=dim,
    ).collect()
    release_persisted()
    assert len(got) == 5
    assert all(r["vec_id"] != 80 for r in got)  # NaN cosine never ranks


def test_pq_topk_zero_norm_query_returns_empty(spark):
    """The QUERY-side twin of the zero-embedding case (ADVICE r7 #3):
    a zero-norm query vector has no meaningful cosine ranking, so
    pq_topk returns an EMPTY frame — the guarded re-rank cosine is
    NULL and NULL rows never reach the top-k — instead of raising
    ANSI DIVIDE_BY_ZERO (the pre-guard behavior)."""
    import random

    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators import (
        release_persisted,
    )
    from nashville_etl_service_backup_spark.operators.similarity import (
        pq_topk,
    )

    rng = random.Random(7)
    dim = 8
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], "d")
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    zq = spark.createDataFrame([([0.0] * dim,)], "qv array<double>")
    got = pq_topk(
        emb, zq, k=5, m=2, codes=4, iters=1, shortlist=10, dim=dim
    ).collect()
    release_persisted()
    assert got == []


def test_centroid_top2_vectorized_zero_vector_emits_nan(spark):
    """A zero-norm vector's cosines are 0/0 = IEEE NaN on every
    centroid. The sweep's +Inf substitute is for COMPARISONS only —
    the emitted c1/c2 must be the actual NaN cosine (the DuckDB/numpy
    IEEE value), never the +Inf sentinel (ADVICE r6 #2). The Spark
    expression twin can't serve such a row at all: 0/0 aborts under
    ANSI and yields NULL with ANSI off (Spark division never emits
    NaN) — both twins' behaviors are pinned here so the divergence
    stays documented."""
    import math

    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.similarity import (
        centroid_artifact,
        centroid_row,
        centroid_scores,
        centroid_top2_vectorized,
        norm_unrolled,
    )

    dim = 3
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, v array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.1, 0.0]), (1, [0.0, 1.0, 0.2])],
        "cent_id long, cv array<double>",
    )
    crow = centroid_row(cents, dim=dim)
    scores = centroid_scores(
        F.col("v"), norm_unrolled(F.col("v"), dim), F.col("_cents"), dim
    )
    top2 = F.slice(F.sort_array(scores, False), 1, 2)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = {
            r["vec_id"]: (
                r["_t"][0]["cid"], r["_t"][0]["c"], r["_t"][1]["c"]
            )
            for r in emb.crossJoin(F.broadcast(crow))
            .select("vec_id", top2.alias("_t"))
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    sweep = centroid_top2_vectorized(*centroid_artifact(cents))
    got = {
        r["vec_id"]: (r["_m"]["cid"], r["_m"]["c1"], r["_m"]["c2"])
        for r in emb.select(
            "vec_id", sweep(F.col("v")).alias("_m")
        ).collect()
    }
    # the normal row matches the expression twin bitwise
    assert got[1] == want[1]
    # the zero row, expression twin (ANSI off): 0/0 is NULL in Spark
    # division, so the sorted scores are all-null structs
    assert want[2][1] is None and want[2][2] is None
    # the zero row, sweep: the +Inf comparison sentinel must NOT leak;
    # the emitted cosines are the IEEE NaN, ties -> higher cid
    assert got[2][0] == 1
    assert got[2][1] is not None and math.isnan(got[2][1])
    assert got[2][2] is not None and math.isnan(got[2][2])


def test_semantic_dedup_pairs_degenerate_rows_drop(spark):
    """On the known-dim path a degenerate vector gets a null cent_id
    and null norm, so it silently drops out of the pair join — it
    produces NO pairs (documented contract; the dim=None expression
    path would instead assign it via NaN ordering). Pins ADVICE r6 #3."""
    from nashville_etl_service_backup_spark.operators import (
        release_persisted,
    )
    from nashville_etl_service_backup_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.01]),
            (2, [0.0, 1.0]),
            (3, [0.01, 0.99]),
            (4, None),
            (5, [1.0]),
            (6, [float("inf"), 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = semantic_dedup_pairs(
        emb, n_centroids=2, kmeans_iters=1, threshold=0.9, dim=2
    ).collect()
    release_persisted()
    ids = {r["vec_a"] for r in pairs} | {r["vec_b"] for r in pairs}
    assert ids and ids <= {0, 1, 2, 3}
    assert {(r["vec_a"], r["vec_b"]) for r in pairs} >= {(0, 1), (2, 3)}
