"""Near-dup recall on the pages fixture: the generator plants exact and
±1-word duplicates (FIXTURES.md class 'dup'); MinHash-LSH must find
them — the functional gate for the dedup family, analogous to sequali's
fingerprinter cross-check (reference: scripts/fingerprinter.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequali_spark.operators import dedup
from sequali_spark.runtime import pins
from tests.test_pipeline import pages_df


@pytest.fixture(scope="module")
def truth_pairs(pages_small):
    """(url_a, url_b) ground-truth duplicate pairs from the generator:
    dup-class docs share (or nearly share) text with a clean doc."""
    by_exact = {}
    pairs = set()
    texts = pages_small["text"].tolist()
    urls = pages_small["url"].tolist()
    cls = pages_small["cls"].tolist()
    for i, t in enumerate(texts):
        if cls[i] in ("clean_en", "dup") and t:
            if t in by_exact:
                a, b = sorted([urls[by_exact[t]], urls[i]])
                pairs.add((a, b, "exact"))
            else:
                by_exact[t] = i
    return pairs


def test_minhash_recall_on_pages(spark, pages_small, truth_pairs):
    exact_truth = {(a, b) for a, b, kind in truth_pairs if kind == "exact"}
    assert len(exact_truth) >= 10, "fixture should plant exact dups"

    pages = pages_df(spark, pages_small)
    found = dedup.minhash_pairs_for(
        pages, id_col="url", text_col="text", threshold=0.8
    ).collect()
    found_pairs = {(r["doc_a"], r["doc_b"]) for r in found}

    hit = exact_truth & found_pairs
    recall = len(hit) / len(exact_truth)
    assert recall >= 0.95, f"exact-dup recall {recall:.2f}"

    # estimated jaccard for exact dups must be 1.0
    exact_found = [r for r in found if (r["doc_a"], r["doc_b"]) in exact_truth]
    assert all(r["est_jaccard"] == 1.0 for r in exact_found)


def test_minhash_finds_near_dups(spark, pages_small):
    """±1-word near-dups (same text with one word replaced) sit well
    above the 0.8 estimated-Jaccard threshold for long docs."""
    cls = pages_small["cls"].to_numpy()
    near_urls = set(pages_small["url"][cls == "dup"])
    pages = pages_df(spark, pages_small)
    found = dedup.minhash_pairs_for(pages, id_col="url", text_col="text", threshold=0.8)
    touched = (
        found.select(F.explode(F.array("doc_a", "doc_b")).alias("url")).distinct().collect()
    )
    touched_urls = {r["url"] for r in touched}
    # most dup-class docs participate in at least one found pair
    frac = len(near_urls & touched_urls) / max(len(near_urls), 1)
    assert frac >= 0.8, f"near-dup participation {frac:.2f}"


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """IVF with n_probe == n_centroids is exhaustive: result must equal
    brute force exactly (structural correctness, data-independent)."""
    from sequali_spark.operators import similarity

    bf = similarity.brute_force_topk(spark, sf_dir, n_queries=5, k=5).collect()
    ivf = similarity.ivf_topk(
        spark, sf_dir, n_queries=5, k=5, n_centroids=8, n_probe=8
    ).collect()
    assert [tuple(r) for r in bf] == [tuple(r) for r in ivf]


def test_ivf_partial_probe_recall(spark, sf_dir):
    from sequali_spark.operators import similarity

    bf = similarity.brute_force_topk(spark, sf_dir, n_queries=10, k=5).collect()
    ivf = similarity.ivf_topk(
        spark, sf_dir, n_queries=10, k=5, n_centroids=16, n_probe=8
    ).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in bf}
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3  # random-ish vectors; probing half the lists


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark, sf_dir):
    from sequali_spark.operators import dedup

    pairs_df = dedup.minhash_near_dup_pairs(spark, sf_dir, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    pairs = [(r["doc_a"], r["doc_b"]) for r in pairs_df.collect()]
    assert pairs, "need candidate pairs for the test to mean anything"
    truth = _union_find(pairs)
    got = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(pairs_df).collect()
    }
    assert got == truth


def test_dedup_keepers(spark, sf_dir):
    from sequali_spark.operators import dedup

    rows = dedup.dedup_keepers(spark, sf_dir, threshold=0.8).collect()
    comps = {}
    for r in rows:
        comps.setdefault(r["component"], []).append(r)
    for comp_id, members in comps.items():
        keepers = [m for m in members if m["keep_doc"]]
        assert len(keepers) == 1
        assert keepers[0]["doc_id"] == comp_id == min(m["doc_id"] for m in members)


# --- scale guards: degenerate clusters must stay bounded ---------------------

@pytest.fixture(scope="module")
def mega_cluster_dir(spark, tmp_path_factory):
    """documents table with a planted mega-cluster: 80 byte-identical
    docs + 3 empty docs + 10 distinct docs (2 of which are near-dups)."""
    import random

    rng = random.Random(7)

    def prose(n, vocab):
        # per-doc vocabulary so genuinely distinct docs don't share
        # character shingles (tiny shared vocab => high true Jaccard)
        words = [f"{w}{vocab}" for w in ("alpha", "beta", "gamma", "delta", "web", "page")]
        return " ".join(rng.choice(words) for _ in range(n))

    boiler = prose(120, "boil")
    near_a = prose(150, "near")
    # one-CHARACTER edit => true shingle Jaccard ~0.95: the pair must sit
    # well above the 0.8 query threshold so the test pins CAP behavior,
    # not 64-permutation estimator noise (sd ~0.05 near the threshold)
    near_b = near_a.replace("alphanear", "alphonear", 1)
    rows = (
        [(i, boiler) for i in range(80)]
        + [(80, ""), (81, ""), (82, "")]
        + [(83, near_a), (84, near_b)]
        + [(85 + i, prose(100 + 7 * i, f"v{i}")) for i in range(8)]
    )
    d = tmp_path_factory.mktemp("mega")
    spark.createDataFrame(rows, schema="doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_minhash_bucket_cap_bounds_identical_cluster(spark, mega_cluster_dir):
    """80 identical docs put 80 ids in every band bucket (80*79/2
    candidates per band when uncapped).  The star-cap must keep the
    candidate volume bounded (~cap^2/2 + (B-cap) per bucket) while
    keeping the cluster CONNECTED — the pre-fix behavior dropped
    over-cap buckets entirely, so a >cap cluster of near- but not
    byte-identical docs emitted ZERO pairs."""
    docs = dedup.load(spark, mega_cluster_dir, "documents")
    pairs = dedup.minhash_pairs_for(docs, threshold=0.8, max_bucket=8).collect()
    intra = [
        (r["doc_a"], r["doc_b"]) for r in pairs if r["doc_a"] < 80 and r["doc_b"] < 80
    ]
    assert intra, "over-cap cluster must emit pairs (star-capped, not dropped)"
    # bounded: per bucket <= 8*7/2 head pairs + 72 star rows, 16 bands
    assert len(intra) <= 16 * (8 * 7 // 2 + 72)
    assert len(intra) < 80 * 79 / 2
    # connected: every cluster member reaches keeper 0 via the pairs
    comp = _union_find(intra)
    assert set(range(80)) <= set(comp)
    assert {comp[x] for x in range(80)} == {0}
    # the rare-bucket near-dup pair survives the cap
    assert (83, 84) in {(r["doc_a"], r["doc_b"]) for r in pairs}


def test_minhash_near_dup_collapses_exact_first(spark, mega_cluster_dir):
    """The public query collapses exact dups to a representative, so the
    mega-cluster contributes ONE id and no quadratic candidates."""
    pairs = dedup.minhash_near_dup_pairs(spark, mega_cluster_dir, threshold=0.8)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert all(not (a < 80 and b < 80) for a, b in got), "no intra-cluster pairs"
    assert (83, 84) in got


def test_simhash_drops_degenerate_and_identical(spark, mega_cluster_dir):
    pairs = dedup.simhash_near_dup_pairs(spark, mega_cluster_dir, max_hamming=6)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # empty docs (simhash 0) never pair; identical docs collapsed to one rep
    assert all(a not in (80, 81, 82) and b not in (80, 81, 82) for a, b in got)
    assert all(not (a < 80 and b < 80) for a, b in got)
    assert (83, 84) in got
    # ring topology (the clustering surface) still finds the near pair:
    # a 2-member bucket's ring edge IS the pair
    ring = dedup.simhash_near_dup_pairs(
        spark, mega_cluster_dir, max_hamming=6, edge_mode="ring"
    )
    assert (83, 84) in {(r["doc_a"], r["doc_b"]) for r in ring.collect()}


def test_winnow_stop_fingerprint_cap(spark, mega_cluster_dir):
    """Every fingerprint of the 80-doc identical cluster has 80 postings
    (> cap 64) -> dropped; disabling the cap shows the quadratic blowup
    the guard prevents."""
    capped = dedup.winnow_overlap_pairs(spark, mega_cluster_dir, max_postings=64)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert all(not (a < 80 and b < 80) for a, b in got)
    uncapped = dedup.winnow_overlap_pairs(spark, mega_cluster_dir, max_postings=0)
    n_intra = uncapped.filter("doc_a < 80 AND doc_b < 80").count()
    assert n_intra == 80 * 79 / 2  # the blowup the cap removes


def test_ngram_jaccard_cap_exact_below_estimates_above(spark, tmp_path):
    """max_grams bounds verify-stage row width: docs under the cap are
    verified exactly (capped == uncapped bit-for-bit); docs over the cap
    are verified on a deterministic bottom-k gram sample whose estimate
    must sit within ~10% of exact Jaccard (bottom-k sketch error
    ~1/sqrt(k))."""
    import random

    rng = random.Random(5)
    long_a = "".join(rng.choice("abcdefghij") for _ in range(4000))
    long_b = long_a[:2000] + "".join(rng.choice("abcdefghij") for _ in range(2000))
    short_a = "the quick brown fox jumps over the lazy dog"
    short_b = "the quick brown fox jumped over a lazy dog"
    # mixed pair: doc 4 is UNDER the cap while doc 0 is over it — the
    # asymmetric case where intersecting the big side's sample with the
    # small side's full set would understate Jaccard by ~|A|/max_grams
    mixed_small = long_a[:500]
    d = tmp_path / "ngram"
    spark.createDataFrame(
        [(0, long_a), (1, long_b), (2, short_a), (3, short_b), (4, mixed_small)],
        schema="doc_id long, text string",
    ).write.parquet(str(d / "documents.parquet"))
    cands = spark.createDataFrame(
        [(0, 1), (2, 3), (0, 4)], schema="doc_a long, doc_b long"
    )
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard_bps"]
        for r in dedup.ngram_jaccard_pairs(
            spark, str(d), candidates=cands, max_grams=1 << 30
        ).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard_bps"]
        for r in dedup.ngram_jaccard_pairs(
            spark, str(d), candidates=cands, max_grams=512
        ).collect()
    }
    assert capped[(2, 3)] == exact[(2, 3)], "below-cap pair must be exact"
    assert abs(capped[(0, 1)] - exact[(0, 1)]) <= 1000, (
        f"bottom-k estimate {capped[(0, 1)]} vs exact {exact[(0, 1)]}"
    )
    # symmetric bottom-k on the mixed pair: both sides restricted to the
    # common hash domain, so the estimate stays near exact instead of
    # collapsing by the big side's sampling fraction (~13% here, which
    # would put the one-sided estimate ~40% low)
    assert abs(capped[(0, 4)] - exact[(0, 4)]) <= 350, (
        f"mixed-pair estimate {capped[(0, 4)]} vs exact {exact[(0, 4)]}"
    )


def test_ring_edges_cluster_recall(spark, tmp_path):
    """edge_mode='ring' gives up pair completeness but must preserve
    CLUSTER membership: a planted 40-member near-dup family ends up in
    ONE connected component, with candidate volume linear in corpus
    size (<= n_bands * N edges, vs B^2/2 per bucket for 'pairs')."""
    import random

    rng = random.Random(11)
    words = [f"{w}ring" for w in ("alpha", "beta", "gamma", "delta", "web", "page")]
    base = " ".join(rng.choice(words) for _ in range(200))
    rows = []
    toks = base.split(" ")
    for i in range(40):  # 40 near-dups: one word altered per member
        t = list(toks)
        t[5 + i] = f"alt{i}"
        rows.append((i, " ".join(t)))
    for j in range(100):  # unrelated background docs
        rows.append((100 + j, " ".join(rng.choice(words) + f"x{j}" for _ in range(80))))
    d = tmp_path / "ring"
    spark.createDataFrame(rows, schema="doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    docs = dedup.load(spark, str(d), "documents")
    ring = dedup.minhash_pairs_for(
        docs, threshold=0.8, collapse_exact=True, edge_mode="ring"
    ).select("doc_a", "doc_b").persist()
    n_edges = ring.count()
    # linear bound: at most n_bands edges per doc (before distinct the
    # topology emits B-1 per bucket; verified pairs are far fewer)
    assert n_edges <= dedup.LSH_BANDS * 140
    comp = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(ring).collect()
    }
    ring.unpersist()
    # every cluster member reaches the same component
    got = {comp.get(i) for i in range(40)}
    assert got == {0}, f"cluster split into components {got}"
    # background docs never join the cluster
    assert all(comp.get(100 + j, 100 + j) != 0 for j in range(100))


def test_dedup_keepers_folds_exact_dups(spark, mega_cluster_dir):
    rows = dedup.dedup_keepers(spark, mega_cluster_dir, threshold=0.8).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    # the 80 identical docs form one cluster with keeper 0
    assert len(by_comp[0]) == 80
    assert sum(r["keep_doc"] for r in by_comp[0]) == 1
    assert next(r["doc_id"] for r in by_comp[0] if r["keep_doc"]) == 0
    # the near-dup pair forms its own cluster with keeper 83
    assert {r["doc_id"] for r in by_comp[83]} == {83, 84}


def test_keeper_election_plan_has_no_window(spark, mega_cluster_dir):
    """r8 excision: cluster-size gating and exact-rep selection must be
    groupBy+join (map-side combine, AQE-skew-splittable), never an
    unbounded window partitioned by component/digest — a 10^6-copy
    boilerplate page is ONE partition under either key and a window
    would buffer its full membership on a single task."""
    plan = (
        dedup.dedup_keepers(spark, mega_cluster_dir, threshold=0.8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, "keeper election must not use a window"


@pytest.fixture(scope="module")
def skewed_neardup_dir(spark, tmp_path_factory):
    """One NEAR-dup component ≫ everything else: 64 distinct variants of
    one page (single-word edits, pairwise shingle Jaccard ~0.97) that
    survive exact dedup as 64 separate reps and must be merged by the
    LSH+CC stage — the shape where the keeper election itself sees a
    hot component, as opposed to mega_cluster_dir's byte-identical skew
    which collapses to one rep before CC."""
    import random

    rng = random.Random(11)
    vocab = [f"{w}sk" for w in ("alpha", "beta", "gamma", "delta", "web", "page")]
    base = [rng.choice(vocab) for _ in range(150)]
    rows = []
    for i in range(64):
        v = list(base)
        v[i % len(v)] = f"variant{i}tok"
        rows.append((i, " ".join(v)))
    # background: distinct docs with disjoint vocabularies
    for j in range(20):
        words = [f"{w}bg{j}" for w in ("red", "blue", "green", "cyan", "teal")]
        rows.append((1000 + j, " ".join(rng.choice(words) for _ in range(100))))
    d = tmp_path_factory.mktemp("skewed_neardup")
    spark.createDataFrame(rows, schema="doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_keeper_election_skewed_neardup_component(spark, skewed_neardup_dir):
    rows = dedup.dedup_keepers(spark, skewed_neardup_dir, threshold=0.8).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    assert 0 in by_comp, "the hot component must exist with keeper id 0"
    hot = by_comp[0]
    # ring edges trade pair completeness for linear volume; the hot
    # component must still capture (nearly) all 64 variants and elect
    # exactly one keeper
    assert len(hot) >= 60, f"hot component captured only {len(hot)}/64"
    assert sum(r["keep_doc"] for r in hot) == 1
    assert next(r["doc_id"] for r in hot if r["keep_doc"]) == 0
    # background docs never join the hot component
    assert all(r["doc_id"] < 1000 for r in hot)


def test_connected_components_nonconvergence_is_loud(spark):
    """A 21-node path graph needs 20 propagation rounds plus the one
    that sees no change; at max_iter=5 or 20 it raises instead of
    returning split clusters.  The exact round count guards the
    folded first round against an off-by-one."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], schema="doc_a long, doc_b long"
    )
    for short in (5, 20):
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(chain, max_iter=short)
    for max_iter in (21, 25):
        stats = {}
        labels = {
            r["doc_id"]: r["component"]
            for r in dedup.connected_components(
                chain, max_iter=max_iter, stats=stats
            ).collect()
        }
        assert stats == {"rounds": 21, "converged": True}
        assert labels == {i: 0 for i in range(21)}


# --- multi-probe LSH recall --------------------------------------------------

@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    """500 unit vectors in 10 tight clusters (where LSH is meaningful —
    the driver's embeddings are isotropic random, on which NO sublinear
    ANN can reach high recall)."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.randn(10, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(500):
        c = i % 10
        v = centers[c] + 0.04 * rng.randn(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label long"
    )


def test_multiprobe_lsh_recall(spark, clustered_embeddings):
    from sequali_spark.operators import similarity

    bf = similarity.brute_force_topk_for(clustered_embeddings, n_queries=10, k=5).collect()
    lsh = similarity.lsh_topk_for(
        clustered_embeddings, n_queries=10, k=5, n_planes=8, hamming_probes=2
    ).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in bf}
    got = {(r["query_id"], r["neighbor_id"]) for r in lsh}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"multi-probe recall {recall:.2f}"


def test_multiprobe_beats_single_probe(spark, clustered_embeddings):
    from sequali_spark.operators import similarity

    single = similarity.lsh_topk_for(
        clustered_embeddings, n_queries=10, k=5, n_planes=8, hamming_probes=0
    ).count()
    multi = similarity.lsh_topk_for(
        clustered_embeddings, n_queries=10, k=5, n_planes=8, hamming_probes=2
    ).count()
    assert multi > single


def test_kmeans_centroids_improve_quantization(spark, clustered_embeddings):
    """On clustered data, Lloyd iterations must land one centroid per
    cluster (or close): mean max-cosine to the nearest centroid rises
    vs the iteration-0 'first N vectors' quantizer."""
    import numpy as np
    from sequali_spark.operators import similarity

    emb = np.array(
        [r["embedding"] for r in clustered_embeddings.orderBy("vec_id").collect()],
        dtype=np.float64,
    )

    def mean_best_sim(centroids):
        return float((emb @ centroids.T).max(axis=1).mean())

    c0 = similarity.kmeans_centroids(clustered_embeddings, n_centroids=10, n_iter=0)
    c2 = similarity.kmeans_centroids(clustered_embeddings, n_centroids=10, n_iter=2)
    # the fixture assigns vec i to cluster i%10, so the first-10 init is
    # already one-per-cluster; Lloyd still strictly improves it and must
    # land essentially on the cluster means
    assert mean_best_sim(c2) > mean_best_sim(c0)
    assert mean_best_sim(c2) > 0.94
    # determinism: same call, same result
    c2b = similarity.kmeans_centroids(clustered_embeddings, n_centroids=10, n_iter=2)
    assert np.array_equal(c2, c2b)


def test_embedding_near_dup_finds_planted_pairs(spark, tmp_path):
    """Plant near-identical embedding pairs among random vectors and
    assert the sign-LSH-blocked near-dup pass surfaces exactly them
    (the driver corpus has no near-dups, so that query returning 0 rows
    is correct — this is the positive-path gate)."""
    import numpy as np
    from sequali_spark.operators import similarity

    rng = np.random.RandomState(3)
    rows = []
    for i in range(200):
        v = rng.randn(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], 0))
    # plant 5 near-dup pairs: id 200+j is a tiny perturbation of id j
    for j in range(5):
        base = np.array(rows[j][1])
        v = base + 0.01 * rng.randn(64)
        v /= np.linalg.norm(v)
        rows.append((200 + j, [float(x) for x in v], 0))
    d = tmp_path / "emb"
    spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label long"
    ).write.parquet(str(d / "embeddings.parquet"))

    pairs = similarity.embedding_near_dup_pairs(spark, str(d), min_sim_bps=9900)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    planted = {(j, 200 + j) for j in range(5)}
    assert planted <= got, f"missed {planted - got}"
    assert got == planted, f"false positives: {got - planted}"


def test_pq_adc_topk_recall_and_codes(spark, clustered_embeddings):
    """PQ-ADC with exact re-rank must recover the brute-force top-k on
    clustered data (recall@5 >= 0.9) — and the codes frame is the
    32x-compressed corpus representation (M uint8 codes per vector)."""
    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    books = sim.pq_train(e, n_sample=500, n_iter=8)
    assert books.shape == (sim.PQ_M, sim.PQ_K, 64 // sim.PQ_M)
    codes = sim.pq_encode(e, books)
    crow = codes.orderBy("vec_id").first()
    assert len(crow["codes"]) == sim.PQ_M
    assert all(0 <= c < sim.PQ_K for c in crow["codes"])

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk_for(e, n_queries=10, k=5).collect()
    }
    # rerank_factor is the recall lever: this fixture's clusters are
    # NEAR-TIES (50 members at cosine ~0.997), so the ADC ordering among
    # cluster mates is quantization noise — the shortlist must cover the
    # cluster (k*10 = 50) for the exact re-rank to recover the true
    # top-5.  On separable neighbors a 4x shortlist suffices.
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_topk_for(
            e, n_queries=10, k=5, rerank_factor=10, codebooks=books, codes=codes
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"PQ recall {recall:.2f}"


def test_pq_adc_score_matches_numpy_reference(spark, clustered_embeddings):
    """The distributed ADC gather (lut[q, s, code] summed over s) must
    equal the straight numpy dot of the query with each vector's
    RECONSTRUCTION (concatenated codebook entries) — the defining PQ
    identity."""
    import numpy as np

    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    books = sim.pq_train(e, n_sample=500, n_iter=8)
    codes = {r["vec_id"]: r["codes"] for r in sim.pq_encode(e, books).collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e.collect()}
    sub = 64 // sim.PQ_M
    # a large rerank_factor makes the shortlist global, so every emitted
    # adc-ordered candidate reflects raw ADC scores; spot-check by
    # recomputing the reconstruction dot for the top hit of query 0
    got = sim.pq_topk_for(
        e, n_queries=1, k=3, rerank_factor=2, codebooks=books
    ).collect()
    q = vecs[0]
    for r in got:
        recon = np.concatenate(
            [books[s, codes[r["neighbor_id"]][s]] for s in range(sim.PQ_M)]
        )
        adc = float(q @ recon)
        exact = float(q @ vecs[r["neighbor_id"]])
        # re-rank reports EXACT sim; ADC placed it in the shortlist —
        # quantization error must be small on tight clusters
        assert abs(adc - exact) < 0.15, (r["neighbor_id"], adc, exact)
        assert r["sim_bps"] == int(np.floor(10000 * exact))


def test_ivfpq_full_probe_equals_pq(spark, clustered_embeddings):
    """Raw-coded IVF-PQ with n_probe == n_centroids is exhaustive: the
    probe filter passes everything, so the result must be IDENTICAL to
    plain PQ-ADC on the same codebooks — the composition adds pruning,
    never a different scoring path.  (The fused ivfpq_encode frame
    carries the centroid column, but with residual=False the codes and
    scores are exactly pq_encode's.)"""
    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    books = sim.pq_train(e, n_sample=500, n_iter=8)
    cents = sim.kmeans_centroids(e, n_centroids=8, n_iter=2)
    fused = sim.ivfpq_encode(e, cents, books, residual=False).persist()
    pq = sim.pq_topk_for(
        e, n_queries=5, k=5, rerank_factor=4, codebooks=books,
        codes=sim.pq_encode(e, books),
    ).collect()
    ivfpq = sim.ivfpq_topk_for(
        e, n_queries=5, k=5, n_centroids=8, n_probe=8, rerank_factor=4,
        centroids=cents, codebooks=books, codes=fused, residual=False,
    ).collect()
    fused.unpersist()
    assert [tuple(r) for r in pq] == [tuple(r) for r in ivfpq]


def test_ivfpq_rejects_unfused_codes(spark, clustered_embeddings):
    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    books = sim.pq_train(e, n_sample=500, n_iter=8)
    with pytest.raises(ValueError, match="fused"):
        sim.ivfpq_topk_for(e, codebooks=books, codes=sim.pq_encode(e, books))


def test_ivfpq_rejects_residual_flag_mismatch(spark, clustered_embeddings):
    """A fused codes frame carries its residual flag as column metadata;
    querying with the opposite flag must raise instead of silently
    double-counting / dropping the coarse term."""
    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    cents = sim.kmeans_centroids(e, n_centroids=8, n_iter=2)
    books = sim.pq_train(e, n_sample=500, n_iter=8)
    raw = sim.ivfpq_encode(e, cents, books, residual=False)
    with pytest.raises(ValueError, match="residual=False"):
        sim.ivfpq_topk_for(
            e, n_centroids=8, centroids=cents, codebooks=books,
            codes=raw, residual=True,
        )


def test_ivfpq_encode_matches_numpy(spark, clustered_embeddings):
    """The fused (assign + residual-encode) Arrow kernel must equal the
    straight numpy pipeline: nearest-centroid by max cosine, then
    per-subspace argmin squared-L2 against the codebooks on
    (x - centroid)."""
    import numpy as np

    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    cents = sim.kmeans_centroids(e, n_centroids=8, n_iter=2)
    books = sim.pq_train_residual(e, cents, n_sample=500, n_iter=8)
    got = {
        r["vec_id"]: (r["centroid"], list(r["codes"]))
        for r in sim.ivfpq_encode(e, cents, books).collect()
    }
    rows = e.orderBy("vec_id").collect()
    sub = 64 // sim.PQ_M
    for r in rows:
        x = np.array(r["embedding"], dtype=np.float64)
        cid = int((cents @ x).argmax())
        xr = x - cents[cid]
        codes = [
            int(
                (
                    ((xr[s * sub : (s + 1) * sub] - books[s]) ** 2).sum(axis=1)
                ).argmin()
            )
            for s in range(sim.PQ_M)
        ]
        assert got[r["vec_id"]] == (cid, codes), r["vec_id"]


def test_ivfpq_index_on_disk_prunes_partitions(spark, clustered_embeddings, tmp_path):
    """The written index is a real inverted list: a probe filter over
    the read-back frame prunes partitions at scan time (PartitionFilters
    in the plan, not a post-scan Filter), and querying through the
    on-disk index returns exactly the in-memory result."""
    from pyspark.sql import functions as F

    from sequali_spark.operators import similarity as sim
    from sequali_spark.plans.checks import physical_plan

    e = clustered_embeddings
    cents = sim.kmeans_centroids(e, n_centroids=8, n_iter=2)
    books = sim.pq_train_residual(e, cents, n_sample=500, n_iter=8)
    fused = sim.ivfpq_encode(e, cents, books)
    path = str(tmp_path / "ivfpq_index")
    sim.write_ivfpq_index(fused, path)

    back = sim.read_ivfpq_index(spark, path)
    plan = physical_plan(back.filter(F.col("centroid").isin([1, 3])))
    assert "PartitionFilters" in plan and "centroid" in plan.split("PartitionFilters", 1)[1][:200]

    want = sim.ivfpq_topk_for(
        e, n_queries=5, k=5, n_centroids=8, n_probe=4,
        centroids=cents, codebooks=books, codes=fused,
    ).collect()
    got = sim.ivfpq_topk_for(
        e, n_queries=5, k=5, n_centroids=8, n_probe=4,
        centroids=cents, codebooks=books, codes=back,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_residual_ivfpq_scores_match_numpy_oracle(spark, clustered_embeddings):
    """Full-probe RESIDUAL IVF-PQ against an independent numpy oracle of
    the whole pipeline — the residual analogue of the raw structural
    identity: score = q.centroid[assigned] + q.reconstruction(residual
    codes), global shortlist by (score desc, id), exact cosine re-rank
    of the shortlist."""
    import numpy as np

    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    n_queries, k, rerank_factor, n_cents = 5, 5, 4, 8
    cents = sim.kmeans_centroids(e, n_centroids=n_cents, n_iter=2)
    books = sim.pq_train_residual(e, cents, n_sample=500, n_iter=8)
    fused = sim.ivfpq_encode(e, cents, books).persist()
    got = sim.ivfpq_topk_for(
        e, n_queries=n_queries, k=k, n_centroids=n_cents, n_probe=n_cents,
        rerank_factor=rerank_factor, centroids=cents, codebooks=books,
        codes=fused,
    ).collect()
    codes = {
        r["vec_id"]: np.frombuffer(bytes(r["codes"]), dtype=np.uint8)
        for r in fused.collect()
    }
    cid = {r["vec_id"]: r["centroid"] for r in fused.collect()}
    fused.unpersist()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in e.collect()
    }
    sub = 64 // sim.PQ_M
    want = []
    for qid in range(n_queries):
        q = vecs[qid]
        scored = []
        for vid, v in vecs.items():
            if vid == qid:
                continue
            recon = np.concatenate(
                [books[s, codes[vid][s]] for s in range(sim.PQ_M)]
            )
            scored.append((-(q @ cents[cid[vid]] + q @ recon), vid))
        scored.sort()
        shortlist = [vid for _, vid in scored[: k * rerank_factor]]
        exact = sorted(
            ((-(q @ vecs[vid]), vid) for vid in shortlist)
        )[:k]
        for rank, (neg, vid) in enumerate(exact, start=1):
            want.append((qid, vid, rank, int(np.floor(10000 * -neg))))
    assert [tuple(r) for r in got] == want


def test_ivfpq_partial_probe_recall(spark, clustered_embeddings):
    """With real pruning (probe 4 of 16 lists) the composition still
    recovers the brute-force top-k on clustered data: the coarse
    quantizer sends each query to its own cluster's list."""
    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk_for(e, n_queries=10, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivfpq_topk_for(
            e, n_queries=10, k=5, n_centroids=16, n_probe=4, rerank_factor=10
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.85, f"IVF-PQ recall {recall:.2f}"


def test_ivfpq_index_append_and_drift(spark, clustered_embeddings, tmp_path):
    """Index maintenance (r6): an index written with frozen quantizers
    in its sidecar accepts appended batches — encoded with the SAME
    quantizers, partition-aligned into the existing cells — and the
    read-back union is immediately queryable; the drift statistic
    recommends retraining when a batch sits far from the frozen
    centroids; an index without persisted quantizers refuses to append."""
    import numpy as np
    import pytest

    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    cents = sim.kmeans_centroids(e, n_centroids=8, n_iter=2)
    books = sim.pq_train_residual(e, cents, n_sample=500, n_iter=8)
    fused = sim.ivfpq_encode(e, cents, books)

    # quantizer-less index refuses (silent mixed encodings otherwise)
    bare = str(tmp_path / "idx_bare")
    sim.write_ivfpq_index(fused, bare)
    with pytest.raises(ValueError, match="frozen quantizers"):
        sim.append_ivfpq_index(e.limit(5), bare)

    path = str(tmp_path / "idx")
    baseline = sim.mean_top1_centroid_sim(e, cents)
    sim.write_ivfpq_index(
        fused, path, quantizers=(cents, books), baseline_top1_sim=baseline
    )
    meta = sim.read_ivfpq_meta(spark, path)
    np.testing.assert_allclose(meta["centroids"], cents)
    np.testing.assert_allclose(meta["codebooks"], books)

    # in-distribution batch: appended, queryable, no retrain flag
    batch = e.filter("vec_id < 20").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    rep = sim.append_ivfpq_index(batch, path)
    assert rep["appended"] == 20 and not rep["retrain_recommended"]
    back = sim.read_ivfpq_index(spark, path)
    assert back.count() == 520
    # appended twins of vectors 0..19 are their own nearest neighbors:
    # querying THROUGH the appended index must surface them at rank 1.
    # The embedding table passed for the exact re-rank is the UNION —
    # in production appends land in the vector table as well as the
    # index; an id in the index but absent from the table would be
    # silently dropped at re-rank
    e_full = e.select("vec_id", "embedding").unionByName(batch)
    got = sim.ivfpq_topk_for(
        e_full, n_queries=5, k=5, n_centroids=8, n_probe=8,
        centroids=cents, codebooks=books, codes=back,
    ).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got if r["rank"] == 1}
    assert top1 == {q: q + 10_000 for q in range(5)}
    assert sim.read_ivfpq_meta(spark, path)["appended_batches"] == 1

    # out-of-distribution batch (random directions): drift flags retrain
    rng = np.random.RandomState(3)
    far = rng.randn(30, 64)
    far /= np.linalg.norm(far, axis=1, keepdims=True)
    far_df = spark.createDataFrame(
        [(20_000 + i, [float(x) for x in far[i]]) for i in range(30)],
        schema="vec_id long, embedding array<float>",
    )
    rep2 = sim.append_ivfpq_index(far_df, path)
    assert rep2["retrain_recommended"] and rep2["drift"] > 0.05


def test_ivfpq_rebuild_restores_recall_after_drift(spark, tmp_path):
    """The retrain half of the drift trigger (r7): append a drifted
    batch -> flag fires -> rebuild_ivfpq_index retrains on the current
    table and swaps the index -> recall on the drifted set is restored,
    the sidecar baseline resets to the retrained statistic, and the
    append counter clears."""
    import numpy as np

    from sequali_spark.operators import similarity as sim

    rng = np.random.RandomState(17)

    def _cluster_rows(centers, n_per, id_base):
        rows = []
        for i in range(len(centers) * n_per):
            c = i % len(centers)
            v = centers[c] + 0.04 * rng.randn(64)
            v /= np.linalg.norm(v)
            rows.append((id_base + i, [float(x) for x in v]))
        return rows

    # original corpus: ids 10_000.. in 10 tight clusters
    orig_centers = rng.randn(10, 64)
    orig_centers /= np.linalg.norm(orig_centers, axis=1, keepdims=True)
    orig = spark.createDataFrame(
        _cluster_rows(orig_centers, 40, 10_000),
        schema="vec_id long, embedding array<float>",
    )
    cents = sim.kmeans_centroids(orig, n_centroids=8, n_iter=2)
    books = sim.pq_train_residual(orig, cents, n_sample=500, n_iter=8)
    path = str(tmp_path / "idx")
    sim.write_ivfpq_index(
        sim.ivfpq_encode(orig, cents, books),
        path,
        quantizers=(cents, books),
        baseline_top1_sim=sim.mean_top1_centroid_sim(orig, cents),
    )

    # drifted batch: ids 0..119 in 4 NEW clusters (low ids on purpose —
    # ivfpq_topk_for queries vec_id < n_queries, so recall below is
    # measured ON the drifted set)
    drift_centers = rng.randn(4, 64)
    drift_centers /= np.linalg.norm(drift_centers, axis=1, keepdims=True)
    drifted = spark.createDataFrame(
        _cluster_rows(drift_centers, 30, 0),
        schema="vec_id long, embedding array<float>",
    )
    rep = sim.append_ivfpq_index(drifted, path)
    assert rep["retrain_recommended"], rep

    e_full = orig.unionByName(drifted)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk_for(e_full, n_queries=8, k=5).collect()
    }

    def _recall():
        meta = sim.read_ivfpq_meta(spark, path)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.ivfpq_topk_for(
                e_full,
                n_queries=8,
                k=5,
                n_probe=2,
                rerank_factor=4,  # the production shortlist shape; a
                # frozen-quantizer index mis-shortlists drifted
                # clusters, which factor-4 rerank cannot fully repair
                centroids=meta["centroids"],
                codebooks=meta["codebooks"],
                codes=sim.read_ivfpq_index(spark, path),
            ).collect()
        }
        return len(got & truth) / len(truth)

    before = _recall()
    report = sim.rebuild_ivfpq_index(e_full, path, kmeans_iter=4)
    after = _recall()
    # measured (seeded): before 0.825, after 0.925 — the retrained
    # quantizers restore the drifted clusters' shortlists
    assert after > before, (before, after)
    assert after >= 0.9, (before, after)

    meta = sim.read_ivfpq_meta(spark, path)
    assert meta["appended_batches"] == 0
    assert meta["centroids"].shape == (8, 64)  # shape inherited
    assert report["new_baseline_top1_sim"] == round(
        meta["baseline_top1_sim"], 4
    )
    assert report["n_vectors"] == 520
    # no staging/old leftovers after a clean swap
    import os

    leftovers = [d for d in os.listdir(tmp_path) if "__" in d]
    assert leftovers == [], leftovers
    # the reset baseline is live: a batch drawn from the NEW mixture
    # (all 14 clusters, like the rebuild corpus) no longer trips the
    # trigger
    more = spark.createDataFrame(
        _cluster_rows(np.vstack([orig_centers, drift_centers]), 5, 50_000),
        schema="vec_id long, embedding array<float>",
    )
    rep3 = sim.append_ivfpq_index(more, path)
    assert not rep3["retrain_recommended"], rep3


def test_ivfpq_rebuild_crash_windows(spark, tmp_path):
    """The rebuild swap's crash windows, simulated.  The index is one
    directory (codes + metadata file), so the swap has two states to
    survive:

    1. a stale ``__rebuild`` staging dir from an earlier crash is
       overwritten cleanly and the rebuilt index reads back whole;
    2. a crash between park and promote (live dir parked under
       ``__old``, nothing live) is restored by the next rebuild.

    An index without its metadata file (deleted, or written by an older
    version that kept it in a ``_meta`` sibling) is refused by the
    reader, append and rebuild alike, naming the missing file.
    """
    import os
    import re
    import shutil

    import numpy as np

    from sequali_spark.operators import similarity as sim

    r = np.random.RandomState(1)
    centers = r.randn(4, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(160):
        v = centers[i % 4] + 0.05 * r.randn(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")

    path = str(tmp_path / "idx")
    cents = sim.kmeans_centroids(e, n_centroids=4, n_iter=2)
    books = sim.pq_train_residual(e, cents, n_sample=200, n_iter=4)
    sim.write_ivfpq_index(
        sim.ivfpq_encode(e, cents, books),
        path,
        quantizers=(cents, books),
        baseline_top1_sim=sim.mean_top1_centroid_sim(e, cents),
    )

    def _one_index_dir():
        assert os.listdir(tmp_path) == ["idx"]
        assert os.path.isfile(os.path.join(path, sim.IVFPQ_META))
        assert sim.read_ivfpq_index(spark, path).count() == 160

    _one_index_dir()
    sim.append_ivfpq_index(e.limit(5), path)  # rewrites the metadata file
    assert os.listdir(tmp_path) == ["idx"]
    assert sim.read_ivfpq_index(spark, path).count() == 165

    # (1) stale staging leftovers must not derail a rebuild
    os.makedirs(path + "__rebuild/junkdir", exist_ok=True)
    open(path + "__rebuild/garbage", "w").write("stale crash leftovers")
    report = sim.rebuild_ivfpq_index(e, path, kmeans_iter=3)
    assert report["n_vectors"] == 160
    _one_index_dir()

    # (2) crash between park and promote: live dir parked, nothing live
    # — the next rebuild restores it and completes
    shutil.move(path, path + "__old")
    report2 = sim.rebuild_ivfpq_index(e, path, kmeans_iter=2)
    assert report2["n_vectors"] == 160
    _one_index_dir()

    # an index without its metadata file is refused, naming the file
    os.remove(os.path.join(path, sim.IVFPQ_META))
    missing = re.escape(os.path.join(path, sim.IVFPQ_META))
    with pytest.raises(FileNotFoundError, match=missing):
        sim.read_ivfpq_index(spark, path)
    with pytest.raises(FileNotFoundError, match=missing):
        sim.append_ivfpq_index(e.limit(5), path)
    with pytest.raises(FileNotFoundError, match=missing):
        sim.rebuild_ivfpq_index(e, path)


def test_ivfpq_overwrite_replaces_the_whole_index(spark, clustered_embeddings, tmp_path):
    """Rewriting an index with fewer cells leaves only the new cells,
    even when the session defaults to dynamic partition overwrite,
    which would keep the old cells beside the new metadata."""
    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    path = str(tmp_path / "idx")
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        for n_cells in (8, 2):
            cents = sim.kmeans_centroids(e, n_centroids=n_cells, n_iter=1)
            books = sim.pq_train_residual(e, cents, n_sample=200, n_iter=2)
            sim.write_ivfpq_index(
                sim.ivfpq_encode(e, cents, books), path, quantizers=(cents, books)
            )
    finally:
        spark.conf.set(key, mode)
    back = sim.read_ivfpq_index(spark, path)
    assert back.count() == e.count()
    assert back.select("centroid").distinct().count() == 2
    assert sim.read_ivfpq_meta(spark, path)["centroids"].shape[0] == 2


def test_ivfpq_meta_read_runs_no_spark_job(spark, clustered_embeddings, tmp_path):
    """The index metadata is read on the driver: read_ivfpq_meta starts
    no Spark job (a parquet sidecar read was one or more per call)."""
    from sequali_spark.operators import similarity as sim

    e = clustered_embeddings
    cents = sim.kmeans_centroids(e, n_centroids=4, n_iter=1)
    books = sim.pq_train_residual(e, cents, n_sample=200, n_iter=2)
    path = str(tmp_path / "idx")
    sim.write_ivfpq_index(
        sim.ivfpq_encode(e, cents, books), path, quantizers=(cents, books)
    )
    sc = spark.sparkContext
    sc.setJobGroup("ivfpq-meta", "read_ivfpq_meta must run no job")
    try:
        meta = sim.read_ivfpq_meta(spark, path)
        assert list(sc.statusTracker().getJobIdsForGroup("ivfpq-meta")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert meta["residual"] and meta["appended_batches"] == 0
    assert meta["baseline_top1_sim"] is None
    assert meta["centroids"].shape == cents.shape


def test_pinned_sketch_reuse_and_refresh(spark, tmp_path):
    """The sketch-cache registry must REUSE the pinned frame when the
    same query is reconstructed over unchanged input (r6: the re-pin
    recomputed identical signatures on every bench sample), and must
    REFRESH when the input files change — even at the same path
    (in-place overwrite), which plan-level sameResult alone cannot see."""
    p = str(tmp_path / "docs")
    rows = [(i, f"alpha bravo charlie delta echo doc {i} " * 5) for i in range(50)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(p)
    docs = spark.read.parquet(p)
    dedup.minhash_pairs_for(docs, threshold=0.9, collapse_exact=True).collect()
    pinned1 = pins.pinned("minhash")
    # same input, reconstructed query -> the SAME pinned frame object
    dedup.minhash_pairs_for(
        spark.read.parquet(p), threshold=0.9, collapse_exact=True
    ).collect()
    assert pins.pinned("minhash") is pinned1
    # overwrite in place with DIFFERENT content: two exact dup groups
    rows2 = [(i, f"duplicate text group {i % 2}") for i in range(50)]
    spark.createDataFrame(rows2, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(p)
    dedup.minhash_pairs_for(
        spark.read.parquet(p), threshold=0.9, collapse_exact=True
    ).collect()
    assert pins.pinned("minhash") is not pinned1
    # the refreshed sketch reflects the new content: 50 docs collapse
    # to 2 exact reps (one per dup group)
    assert pins.pinned("minhash").count() == 2


@pytest.mark.parametrize("threshold", [0.7, 0.8])
def test_packed_prefilter_bit_identical(spark, pages_small, monkeypatch, threshold):
    """The packed-byte candidate prefilter (r9) must be EXACTLY
    lossless at every threshold: the verified pair set with the screen
    active equals the set with it forced off, est_jaccard values
    included.  The bound is an upper bound, not probabilistic — equal
    signature components always have equal packed bytes, so a pair with
    >= min_match component matches always has >= min_match byte matches
    and survives the screen; byte collisions only ADD screen survivors,
    which the exact signature verify then rejects.  t=0.7 is the
    headline query's threshold (where the old band pigeonhole had no
    bound at all); t=0.8 covers the band-era regime."""
    pages = pages_df(spark, pages_small)

    def run():
        return sorted(
            (r["doc_a"], r["doc_b"], r["est_jaccard"])
            for r in dedup.minhash_pairs_for(
                pages, id_col="url", text_col="text", threshold=threshold
            ).collect()
        )

    with_filter = run()
    monkeypatch.setattr(dedup, "PACKED_PREFILTER", False)
    without_filter = run()
    assert with_filter == without_filter and len(with_filter) > 0


def test_pinned_sketch_distinguishes_filtered_source(spark, tmp_path):
    """Same parquet files, different QUERY (a filter between the read
    and the sketch) must NOT share a pin: the fingerprint digests the
    source's canonicalized analyzed plan, not just its file listing
    (code-review r6 — listing-only sharing silently dropped every pair
    involving a filtered-out doc)."""
    p = str(tmp_path / "docs")
    rows = [(i, f"omega sigma theta lambda doc body {i} " * 6) for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    full = spark.read.parquet(p)
    dedup.minhash_pairs_for(full, threshold=0.9, collapse_exact=True).collect()
    pinned_full = pins.pinned("minhash")
    n_full = pinned_full.count()
    filtered = spark.read.parquet(p).filter("doc_id < 20")
    dedup.minhash_pairs_for(filtered, threshold=0.9, collapse_exact=True).collect()
    assert pins.pinned("minhash") is not pinned_full
    assert pins.pinned("minhash").count() < n_full
