"""Semantics tests for dedup + similarity operators on crafted data
(planted duplicates / known vectors), independent of the oracle harness."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from data_pipeline_example_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = base.replace("runs far", "walks far")  # one-token change
    return spark.createDataFrame(
        [
            (0, base, "en", "s", len(base)),
            (1, base.upper(), "en", "s", len(base)),  # exact dup after normalize
            (2, near, "en", "s", len(near)),  # near dup
            (3, "completely different words entirely unrelated content here", "en", "s", 57),
            (4, "xy", "en", "s", 2),  # < k tokens → no shingles
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def test_exact_dedup_finds_case_insensitive_dup(docs):
    out = {r["fingerprint"]: r for r in dedup.exact_dedup(docs).collect()}
    dups = [r for r in out.values() if r["dup_count"] > 1]
    assert len(dups) == 1
    assert dups[0]["keep_doc_id"] == 0
    assert dups[0]["dup_count"] == 2


def test_jaccard_pairs_ranks_near_dup_highest(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert 0.5 < pairs[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in pairs or pairs[(0, 3)] < pairs[(0, 2)]
    assert all(4 not in p for p in pairs)  # too short to shingle


def test_minhash_lsh_recovers_exact_and_near_dups(docs):
    # default bands=4/rows=4 targets j≈0.7 — recall at j≈0.75 is ~80%,
    # so for asserting recovery of the near-dup pair use bands=8/rows=2
    # (threshold ≈ (1/8)^(1/2) ≈ 0.35 → recall >99% at j≈0.75)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, bands=8, threshold=0.3).collect()
    }
    assert got[(0, 1)] == 1.0  # identical signatures always collide
    # near-dup pair shares most shingles → an LSH candidate at this config
    assert (0, 2) in got


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.01, 0.0], 0),  # nearly parallel to 0
        (2, [0.0, 1.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0], 1),  # antiparallel
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_knn_orders_by_cosine(vectors):
    out = similarity.knn(vectors, query_id=0, k=4).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 2, 3]
    assert out[0]["cos_sim"] == 1.0
    assert math.isclose(out[1]["cos_sim"], 1 / math.sqrt(1 + 0.01**2), rel_tol=1e-4)
    assert out[3]["cos_sim"] == -1.0


def test_nearest_neighbor_symmetric_pair(vectors):
    nn = {r["vec_id"]: r["nn_id"] for r in similarity.nearest_neighbor_per_vector(vectors).collect()}
    assert nn[0] == 1
    assert nn[1] == 0


def test_ivf_assigns_and_probes(vectors):
    assigned = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.assign_centroids(vectors, n_centroids=2).collect()
    }
    # centroid set = vec_ids {0,1}; vec 3 is antiparallel to 0 → closer to 1? no:
    # cos(3,0) = -1, cos(3,1) ≈ -0.9999 → centroid 1 wins
    assert assigned[0] == 0
    assert assigned[3] == 1
    out = similarity.ivf_knn(vectors, query_id=0, k=2, n_centroids=2, n_probe=1)
    got = [r["vec_id"] for r in out.collect()]
    assert got[0] == 0


def test_embedding_neardup_via_label(spark, sf_dir):
    # smoke on real data: top-1 neighbors exist for every vector
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nn = similarity.nearest_neighbor_per_vector(emb)
    assert nn.count() == emb.count()


def test_simhash_exact_dup_identical_signature(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]  # same token set after lowercasing
    assert len(sigs[0]) == 16 and all(c in "0123456789abcdef" for c in sigs[0])
    assert 4 not in sigs or sigs[4]  # short doc still has tokens → signature

def test_simhash_pairs_hamming_ordering(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=64).collect()
    }
    assert pairs[(0, 1)] == 0  # exact dup
    if (0, 2) in pairs and (0, 3) in pairs:
        assert pairs[(0, 2)] < pairs[(0, 3)]  # near dup closer than unrelated

def test_cosine_dup_pairs_brute_force(vectors):
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in similarity.cosine_dup_pairs(vectors, threshold=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 3) not in pairs  # antiparallel

def test_cosine_dup_blocked_subset_of_brute(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {
        (r["vec_a"], r["vec_b"]) for r in similarity.cosine_dup_pairs(emb, 0.3).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_dup_pairs_blocked(emb, 0.3).collect()
    }
    assert blocked <= brute  # precision exact, recall approximate


def test_dedup_clusters_chain_and_summary(spark):
    from data_pipeline_example_spark.operators import dedup as dd

    # chain 1-2-3-4 needs multiple propagation rounds; 10-11 is separate
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dd.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(20)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    row = dd.dedup_summary(docs, dd.dedup_clusters(pairs)).collect()[0]
    # 20 docs, clusters keep 1 and 10, drop 2,3,4,11
    assert (row["n_docs"], row["n_kept"], row["n_removed"]) == (20, 16, 4)


def test_dedup_clusters_scalable_matches_min_label(spark):
    """Min-label CC (the one engine CC, behind both dedup_clusters and
    dedup_clusters_scalable) labels planted clusters — a diameter-63
    path, a clique and a shared endpoint — with the min id reachable,
    given a round cap above the path's diameter; below it, it raises
    instead of returning the half-propagated labels."""
    import pytest

    from data_pipeline_example_spark.operators import dedup as dd

    rows = [(i, i + 1) for i in range(63)]  # path 0-1-...-63
    rows += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
    rows += [(200, 201), (300, 201)]  # shared endpoint merges 200/201/300
    pairs = spark.createDataFrame(rows, ["doc_a", "doc_b"])
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dd.dedup_clusters(pairs, max_iter=80).collect()
    }
    want = {(i, 0) for i in range(64)}
    want |= {(i, 100) for i in range(100, 105)}
    want |= {(200, 200), (201, 200), (300, 200)}
    assert got == want
    assert {c for _, c in got} == {0, 100, 200}
    with pytest.raises(RuntimeError, match="did not converge in 12 rounds"):
        dd.dedup_clusters(pairs, max_iter=12)


def test_dedup_clusters_raises_on_path_longer_than_max_iter(spark):
    """A path with more hops than ``max_iter`` leaves labels still
    changing when the cap is hit: that is an error, not an answer (the
    far end would keep a label that is not its component minimum)."""
    import pytest

    from data_pipeline_example_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge in 5 rounds"):
        dd.dedup_clusters(pairs, max_iter=5)
    # 10 label-moving rounds plus the one that confirms the fixpoint
    got = dd.dedup_clusters(pairs, max_iter=11).collect()
    assert {(r["doc_id"], r["cluster_id"]) for r in got} == {
        (i, 0) for i in range(11)
    }


def test_dedup_clusters_scalable_empty_and_self_pairs(spark):
    from data_pipeline_example_spark.operators import dedup as dd
    from pyspark.sql.types import LongType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([StructField("doc_a", LongType()), StructField("doc_b", LongType())])
    )
    assert dd.dedup_clusters(empty).count() == 0
    # a self-pair adds no connectivity: 6 still takes 5's label
    selfs = spark.createDataFrame([(5, 5), (5, 6)], ["doc_a", "doc_b"])
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dd.dedup_clusters(selfs).collect()
    }
    assert got == {(5, 5), (6, 5)}


def test_dedup_clusters_empty_graph(spark):
    from data_pipeline_example_spark.operators import dedup as dd
    from pyspark.sql.types import LongType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([StructField("doc_a", LongType()), StructField("doc_b", LongType())])
    )
    assert dd.dedup_clusters(empty).count() == 0
    docs = spark.createDataFrame(
        [(1, "t", "en", "s", 1)], ["doc_id", "text", "lang", "source", "n_chars"]
    )
    row = dd.dedup_summary(docs, dd.dedup_clusters(empty)).collect()[0]
    assert (row["n_docs"], row["n_kept"], row["n_removed"]) == (1, 1, 0)


def test_tfidf_favors_rare_terms(spark):
    from data_pipeline_example_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "common common zebra", "en", "s", 19),
            (2, "common yak", "en", "s", 10),
            (3, "common", "en", "s", 6),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = text_ops.tfidf_top_terms(docs, top_per_doc=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # "common" appears everywhere → idf ln(4/4)=0; rare terms win
    assert top == {1: "zebra", 2: "yak", 3: "common"}
    scores = {r["doc_id"]: r["score"] for r in out}
    assert scores[3] == 0.0


def test_top_bigrams_counts_occurrences(spark):
    from data_pipeline_example_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", "s", 7), (2, "a b", "en", "s", 3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {r["bigram"]: r["n_occurrences"]
           for r in text_ops.top_bigrams(docs).collect()}
    # "a b" occurs twice in doc 1 (occurrences, not distinct-per-doc)
    assert got == {"a b": 3, "b a": 1}


def test_embedding_centroids_golden(spark):
    from data_pipeline_example_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (1, [3.0, 4.0])],
        ["vec_id", "embedding"],
    )
    got = {r["bucket"]: (r["n_vecs"], r["centroid_norm"])
           for r in sim.embedding_centroids(emb, k=2).collect()}
    # bucket 0: vecs 0,2 → mean (0.5, 0.5), norm ≈ 0.707107
    # bucket 1: vec 1 → norm 5
    assert got[0] == (2, 0.707107)
    assert got[1] == (1, 5.0)


def test_kmeans_inertia_monotone_and_partitioning(spark, sf_dir):
    from data_pipeline_example_spark.operators import similarity as sim
    from data_pipeline_example_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    one = sim.kmeans_embeddings(emb, k=4, iterations=1).collect()
    three = sim.kmeans_embeddings(emb, k=4, iterations=3).collect()
    # every vector is assigned exactly once
    assert sum(r["n_vecs"] for r in one) == n
    assert sum(r["n_vecs"] for r in three) == n
    # k-means inertia never increases with more iterations
    assert sum(r["inertia"] for r in three) <= sum(r["inertia"] for r in one) + 1e-6


def test_user_reach_rollup_matches_exact_within_rsd(spark, sf_dir):
    from data_pipeline_example_spark.operators import users as users_ops
    from data_pipeline_example_spark.sources import load_table
    from pyspark.sql import functions as F2

    events = load_table(spark, sf_dir, "events")
    est = {r["event_type"]: r["reach_estimate"]
           for r in users_ops.user_reach_rollup(events).collect()}
    exact = {r["event_type"]: r["x"] for r in
             events.groupBy("event_type")
             .agg(F2.countDistinct("user_id").alias("x")).collect()}
    for t, x in exact.items():
        assert abs(est[t] - x) <= max(3, 0.05 * x), (t, est[t], x)
    # sketch union is order-insensitive → estimate is deterministic
    again = {r["event_type"]: r["reach_estimate"]
             for r in users_ops.user_reach_rollup(events.repartition(7)).collect()}
    assert est == again


def test_srp_dup_pairs_subset_and_identical_vectors(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in similarity.cosine_dup_pairs(emb, 0.35).collect()
    }
    srp = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in similarity.srp_dup_pairs(emb, 0.35).collect()
    }
    # precision exact: every SRP pair is a true >=threshold pair with the
    # same rounded cosine; recall approximate (banded subset)
    assert srp and set(srp) <= set(brute)
    assert all(brute[p] == srp[p] for p in srp)


def test_srp_near_parallel_vectors_always_collide(vectors):
    # v0=(1,0,0) and v1=(1,.01,0): every +-1 hyperplane projection is
    # dominated by the first component, so all sign bits agree -> the
    # pair collides in every band -> must surface exactly once (banded
    # first-match emission) with cos_sim ~ 1
    rows = [
        r
        for r in similarity.srp_dup_pairs(vectors, threshold=0.9, dims=3).collect()
        if (r["vec_a"], r["vec_b"]) == (0, 1)
    ]
    assert len(rows) == 1 and rows[0]["cos_sim"] > 0.99


def test_srp_dup_pairs_64_bit_signature(spark, vectors):
    # 64 bits = 4 bands of 16: each band's bucket is built from its own
    # 16 sign bits, so the full signature width never overflows a
    # bigint, checked under ANSI casts as a caller-built session has
    # them; the near-parallel pair is the only one at >= 0.9, once
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = similarity.srp_dup_pairs(
            vectors, threshold=0.9, n_bits=64, dims=3
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert [(r["vec_a"], r["vec_b"]) for r in out] == [(0, 1)]
    assert out[0]["cos_sim"] > 0.99


def test_semantic_prune_consistent_with_blocked_pairs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pruned = {r["vec_id"]: r for r in similarity.semantic_prune(emb, 0.35).collect()}
    pairs = similarity.cosine_dup_pairs_blocked(emb, 0.35).collect()
    dropped_expect = {r["vec_b"] for r in pairs}
    assert len(pruned) == emb.count()  # one decision per vector
    for vid, row in pruned.items():
        assert row["keep"] == (0 if vid in dropped_expect else 1)
        if row["keep"]:
            assert row["n_earlier_dups"] == 0 and row["max_cos"] is None
        else:
            assert row["n_earlier_dups"] >= 1
            assert row["max_cos"] >= 0.35
    # the earliest member of every bucket always survives
    by_bucket: dict[int, int] = {}
    for vid, row in pruned.items():
        b = row["centroid_id"]
        if b not in by_bucket or vid < by_bucket[b]:
            by_bucket[b] = vid
    assert all(pruned[v]["keep"] == 1 for v in by_bucket.values())


def test_capped_assignment_bounds_buckets_on_skew(spark):
    """Adversarially skewed corpus: every vector is near-parallel to the
    first centroid, so fixed-k assignment puts ~everything in ONE bucket.
    The capped path must still bound every (centroid_id, sub_id) group
    at `cap` rows — the hard per-task work/memory guarantee at 100 TB."""
    import random

    rng = random.Random(5)
    n, cap = 400, 16
    rows = [
        # tiny orthogonal jitter keeps vectors distinct but all within
        # ~1e-3 radians of each other → maximal centroid skew
        (i, [1.0, rng.uniform(0, 1e-3), rng.uniform(0, 1e-3)], 0)
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    assigned = similarity.assign_centroids_capped(emb, target_bucket=64, cap=cap)
    sizes = (
        assigned.groupBy("centroid_id", "sub_id").count().select("count").collect()
    )
    assert sizes and max(r["count"] for r in sizes) <= cap
    # every vector assigned exactly once
    assert assigned.count() == n


def test_capped_two_level_assignment_matches_bruteforce_replay(spark):
    """assign_centroids_capped's hierarchical coarse→fine routing must
    equal a from-scratch numpy replay of the documented rule — k =
    ceil(n/64) fine centroids, kc = ceil(sqrt(k)) coarse, self-routing
    for coarse-resident fines, argmax-cosine (6 dp, lowest-id ties)
    everywhere — at a size where k and kc are non-trivial and the
    two-level answer genuinely DIFFERS from the old flat argmax (the
    approximation is the point: ~2·sqrt(k) cosines per row, not k)."""
    import math
    import random

    import numpy as np

    rng = random.Random(11)
    n, d = 1500, 8
    V = np.array(
        [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)],
        dtype=np.float64,
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.assign_centroids_capped(emb).collect()
    }

    k = similarity.n_centroids_for(n, 64)
    kc = math.ceil(math.sqrt(k))
    assert k > kc > 1  # non-trivial hierarchy: n=1500 → k=24, kc=5
    Cf, Cc = V[:k], V[:kc]
    f2c = np.arange(k)
    Sf = similarity._cos_matrix(Cf[kc:], Cc)
    f2c[kc:] = np.argmax(Sf, axis=1)
    Sv = similarity._cos_matrix(V, Cc)
    v_coarse = np.argmax(Sv, axis=1)
    want = {}
    Sall = similarity._cos_matrix(V, Cf)
    flat = np.argmax(Sall, axis=1)
    for i in range(n):
        fids = np.where(f2c == v_coarse[i])[0]
        want[i] = int(fids[np.argmax(Sall[i, fids])])
    assert got == want
    # and the hierarchy is a real approximation at this size, not a
    # disguised flat argmax
    assert any(want[i] != int(flat[i]) for i in range(n))


def test_capped_assigner_payload_is_broadcast_backed(spark):
    """The centroid matrix must ride a Spark broadcast, not the task
    closure: at the documented 65536-centroid clamp a closure-captured
    matrix is a multi-hundred-MB pickle shipped with every task. The
    assigner's own pickled payload must stay KB-sized however large the
    centroid set grows."""
    import numpy as np
    from pyspark.serializers import CloudPickleSerializer

    # 2000 x 256 float64 = ~4 MB — two orders of magnitude above the
    # payload bound below, so closure capture would fail the assert
    # (payload shape: the two-level (C_coarse, coarse_ids, groups))
    C = np.ones((2000, 256), dtype=np.float64)
    ids = np.arange(2000, dtype="int64")
    groups = {0: (C, ids)}
    bc = spark.sparkContext.broadcast((C, ids, groups))
    try:
        fn = similarity._capped_assigner(bc)
        payload = CloudPickleSerializer().dumps(fn)
        assert len(payload) < 64 * 1024, len(payload)
    finally:
        bc.unpersist()


def test_cos_matrix_bit_exact_with_sequential_fold():
    """_cos_matrix must equal a strict left-to-right scalar fold with
    dot/(na*nb) normalization — the DuckDB list_cosine_similarity /
    SQL aggregate-fold order — EXACTLY (==, not approx), across chunk
    boundaries, so knife-edge cosines at the 6-dp rounding boundary
    can never flip between engines."""
    import math
    import random

    import numpy as np

    rng = random.Random(17)
    d = 31
    M = np.array(
        [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(23)], dtype=np.float64
    )
    C = np.array(
        [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(7)], dtype=np.float64
    )
    # knife-edge rows: cos(M[-1], C[-1]) lands within ~1e-16 of the
    # 6-dp rounding boundary 0.1234565 — forces the hybrid's
    # recompute-the-band path, not just the BLAS bulk
    edge_m = np.zeros(d)
    edge_m[0] = 1.0
    edge_c = np.zeros(d)
    edge_c[0] = 0.1234565
    edge_c[1] = math.sqrt(1.0 - 0.1234565**2)
    M = np.vstack([M, edge_m])
    C = np.vstack([C, edge_c])
    got = similarity._cos_matrix(M, C)

    def fold_cos(a, b):
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)

    for i in range(M.shape[0]):
        for j in range(C.shape[0]):
            assert got[i, j] == fold_cos(M[i], C[j]), (i, j)


def test_semantic_prune_capped_keep_rule_and_bound(spark):
    """Within a sub-bucket of identical vectors only the earliest id is
    kept; group sizes stay at or under the cap; every vector gets a row."""
    n, cap = 100, 8
    rows = [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(n)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.semantic_prune_capped(emb, target_bucket=32, cap=cap).collect()
    assert len(out) == n
    by_group: dict[tuple, list] = {}
    for r in out:
        by_group.setdefault((r["centroid_id"], r["sub_id"]), []).append(r)
    assert max(len(v) for v in by_group.values()) <= cap
    for grp in by_group.values():
        earliest = min(r["vec_id"] for r in grp)
        for r in grp:
            if r["vec_id"] == earliest:
                assert r["keep"] == 1 and r["max_cos"] is None
            else:  # identical vectors: everything after the first drops
                assert r["keep"] == 0 and r["max_cos"] == 1.0


def test_nearest_neighbor_capped_agrees_with_exact_in_bucket(spark, sf_dir):
    """Capped NN emits one row per vector in a multi-member sub-bucket,
    with exact cosine values (precision exact, recall bucket-limited)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    capped = similarity.nearest_neighbor_capped(emb).collect()
    exact = {
        r["vec_id"]: r["cos_sim"]
        for r in similarity.nearest_neighbor_per_vector(emb).collect()
    }
    assert capped
    for r in capped:
        # capped neighbor can't beat the global exact best
        assert r["vec_id"] in exact
        assert r["cos_sim"] <= exact[r["vec_id"]] + 1e-9
    # bucketing sanity (not a recall bound — this corpus is nearly
    # uniform, the hardest case for any locality bucketing): a
    # non-trivial share of vectors still get their true global top-1
    agree = sum(
        1 for r in capped if r["cos_sim"] == exact[r["vec_id"]]
    )
    assert agree >= len(capped) * 0.15


def test_embedding_prototypes_rank_shape(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = similarity.embedding_prototypes(emb, per_bucket=4, n_centroids=8).collect()
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["centroid_id"], []).append(r)
    for bucket, members in by_bucket.items():
        assert len(members) <= 4
        ranks = sorted(m["rank"] for m in members)
        assert ranks == list(range(1, len(members) + 1))  # contiguous from 1
        # ranking follows cosine-to-centroid descending
        ordered = sorted(members, key=lambda m: m["rank"])
        sims = [m["cos_centroid"] for m in ordered]
        assert sims == sorted(sims, reverse=True)
    # a centroid vector is maximally central in its own bucket (cos=1)
    own = [r for r in rows if r["vec_id"] == r["centroid_id"]]
    assert own and all(r["rank"] == 1 for r in own)


def test_lsh_recall_summary_consistent_with_pair_queries(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = dedup.lsh_recall_summary(docs, threshold=0.1).collect()[0]
    n_true = dedup.jaccard_pairs(docs, threshold=0.1).count()
    n_lsh = dedup.minhash_lsh_pairs(docs, threshold=0.1).count()
    assert row["n_true"] == n_true and row["n_lsh"] == n_lsh
    assert n_lsh <= n_true  # precision 1.0: LSH pairs are exact-verified
    if n_true:
        assert row["recall"] == round(n_lsh / n_true, 4)


def test_embedding_profile_norm_bounds(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = similarity.embedding_profile(emb).collect()
    assert sum(r["n_vectors"] for r in rows) == emb.count()
    for r in rows:
        assert 0 <= r["min_norm"] <= r["avg_norm"] <= r["max_norm"]
    labels = [r["label"] for r in rows]
    assert labels == sorted(labels)


def test_project_embeddings_shape_and_srp_coherence(spark, sf_dir):
    """p_j's sign IS SRP bit j (same hyperplane family), and the plan is
    a single zero-shuffle projection over the scan."""
    from data_pipeline_example_spark.operators.similarity import (
        project_embeddings,
        srp_signature_expr,
    )
    from data_pipeline_example_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    proj = project_embeddings(emb)
    assert proj.columns == ["vec_id"] + [f"p{j:02d}" for j in range(16)]

    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(proj._jdf.queryExecution(), "simple")
    assert "Exchange" not in plan  # pure per-row projection

    sigs = emb.selectExpr(
        "vec_id", f"{srp_signature_expr('embedding', 16, 64)} AS sig"
    )
    joined = proj.join(sigs, "vec_id").collect()
    assert len(joined) > 0
    for row in joined:
        for j in range(16):
            bit = (row["sig"] >> j) & 1
            # srp bit j = [round(dot,6) >= 0]; p_j = round(dot/4, 6) —
            # same dot, so sign agrees except knife-edge |dot| < 5e-7
            p = row[f"p{j:02d}"]
            if abs(p) > 1e-6:
                assert (p > 0) == (bit == 1), (row["vec_id"], j, p, bit)


def test_pq_codes_shape_and_self_coding(spark, sf_dir):
    """One row per vector, codes in [0, ks); codebook vectors code to
    themselves (their own slice has cosine 1.0, tie-break lowest cid
    can only pick an earlier EXACT-duplicate slice, absent here)."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators.similarity import pq_codes
    from data_pipeline_example_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_codes(emb)
    assert codes.columns == ["vec_id", "code_0", "code_1", "code_2", "code_3"]
    n = emb.count()
    assert codes.count() == n
    bounds = codes.select(
        *[F.min(f"code_{g}").alias(f"lo{g}") for g in range(4)],
        *[F.max(f"code_{g}").alias(f"hi{g}") for g in range(4)],
    ).first()
    for g in range(4):
        assert bounds[f"lo{g}"] >= 0 and bounds[f"hi{g}"] < 16
    selfc = codes.filter(F.col("vec_id") < 16).collect()
    assert len(selfc) == min(16, n)
    for row in selfc:
        for g in range(4):
            assert row[f"code_{g}"] == row["vec_id"], row


def test_ivfpq_knn_reranks_to_exact_neighbors(spark, sf_dir):
    """The query ranks itself first at cos 1.0; results descend by exact
    cosine; and the PQ shortlist's top-k substantially overlaps brute
    kNN (same probed-bucket universe as ivf_knn, so any loss comes only
    from PQ scoring — the rerank pool absorbs it)."""
    from data_pipeline_example_spark.operators.similarity import ivfpq_knn, knn
    from data_pipeline_example_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    approx = ivfpq_knn(emb, query_id=0, k=10).collect()
    assert approx[0]["vec_id"] == 0 and approx[0]["cos_sim"] == 1.0
    sims = [r["cos_sim"] for r in approx]
    assert sims == sorted(sims, reverse=True)
    exact = {r["vec_id"] for r in knn(emb, query_id=0, k=10).collect()}
    got = {r["vec_id"] for r in approx}
    assert len(got & exact) >= 5, (got, exact)


def test_new_embedding_ops_handle_tiny_and_empty_inputs(spark):
    """Empty corpus → empty results (no crash); corpus smaller than the
    codebook (n < ks) → codes drawn from the vectors that exist."""
    from data_pipeline_example_spark.operators.similarity import (
        ivfpq_knn,
        pq_codes,
        project_embeddings,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert pq_codes(empty).count() == 0
    assert project_embeddings(empty).count() == 0
    assert ivfpq_knn(empty).count() == 0

    tiny = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(64)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    codes = pq_codes(tiny).collect()
    assert len(codes) == 5
    assert all(0 <= r[f"code_{g}"] < 5 for r in codes for g in range(4))
    top = ivfpq_knn(tiny, query_id=2, k=3).collect()
    assert top and top[0]["vec_id"] == 2 and top[0]["cos_sim"] == 1.0


def test_simhash_pairs_capped_subset_and_cap_semantics(spark, sf_dir):
    """Capped pairs ⊆ full pairs with identical hamming values; equal
    when the cap exceeds every bucket; under a binding cap, surviving
    pairs are exactly those co-resident in some capped bucket."""
    from data_pipeline_example_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in dd.simhash_pairs(docs).collect()}
    loose = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dd.simhash_pairs_capped(docs, cap=10**6).collect()}
    assert loose == full  # non-binding cap → identical result
    tight = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dd.simhash_pairs_capped(docs, cap=4).collect()}
    assert set(tight) <= set(full)
    assert all(full[p] == h for p, h in tight.items())
    # the binding cap trims but never empties: candidate generation
    # still surfaces pairs through each bucket's lowest members
    assert 0 < len(tight) < len(full)


def test_knn_batch_matches_per_query_knn_and_pretrims(spark, sf_dir):
    """Each query's batch slice equals the single-query knn top-k, and
    the per-query rank compiles to WindowGroupLimit (map-side k-row
    pre-trim — the property that makes one scan serve the batch)."""
    from data_pipeline_example_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = sim.knn_batch(emb, n_queries=3, k=4)
    rows = {}
    for r in batch.collect():
        rows.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos_sim"]))
    for q in range(3):
        got = [(v, c) for _, v, c in sorted(rows[q])]
        want = [(r["vec_id"], r["cos_sim"])
                for r in sim.knn(emb, query_id=q, k=4).collect()]
        assert got == want, q
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_ivf_knn_batch_matches_per_query_and_pretrims(spark, sf_dir):
    """Each query's batch slice equals the single-query ivf_knn top-k
    (same probes, same assignment, same rounding), and the per-query
    rank compiles to WindowGroupLimit so the single scan's exchange
    carries only k rows per query per task."""
    from data_pipeline_example_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = sim.ivf_knn_batch(emb, n_queries=3, k=5)
    rows = {}
    for r in batch.collect():
        rows.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cos_sim"])
        )
    for q in range(3):
        got = [(v, c) for _, v, c in sorted(rows[q])]
        want = [(r["vec_id"], r["cos_sim"])
                for r in sim.ivf_knn(emb, query_id=q, k=5).collect()]
        assert got == want, q
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_ivfpq_knn_batch_matches_per_query(spark, sf_dir):
    """Each query's batch slice equals the single-query ivfpq_knn rows
    (assignment + codes computed once; probe sets, LUT, shortlist and
    re-rank all per-query identical)."""
    from data_pipeline_example_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = sim.ivfpq_knn_batch(emb, n_queries=3, k=5)
    rows = {}
    for r in batch.collect():
        rows.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["approx_sim"], r["cos_sim"])
        )
    for q in range(3):
        got = [t[1:] for t in sorted(rows[q])]
        want = [(r["vec_id"], r["approx_sim"], r["cos_sim"])
                for r in sim.ivfpq_knn(emb, query_id=q, k=5).collect()]
        assert got == want, q


def test_ann_params_reject_m_not_dividing_dims(spark):
    """dims % m is checked once, when the parameter object is built, and
    every IVF-PQ entry point fails with ValueError before any Spark job
    (an assert would vanish under python -O)."""
    from data_pipeline_example_spark.operators import similarity as sim

    with pytest.raises(ValueError, match="must divide"):
        sim.AnnParams(m=3, dims=64)
    emb = spark.createDataFrame(
        [(i, [float(i + d) for d in range(64)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    for call in (
        lambda: sim.ivfpq_knn(emb, m=3),
        lambda: sim.ivfpq_knn_batch(emb, m=3),
        lambda: sim.write_ann_index(emb, "/nonexistent/ann", m=3),
        lambda: sim.pq_codes(emb, m=3),
        lambda: sim.pq_distortion(emb, m=3),
    ):
        with pytest.raises(ValueError, match="must divide"):
            call()


def test_shared_fetch_rejects_other_params(spark, sf_dir):
    """A fetch shared between callers carries the parameter object it was
    built with; a callee with different parameters or queries gets a
    ValueError instead of LUT cosines over the wrong slices (a dims=64
    fetch handed to a dims=32 call)."""
    from data_pipeline_example_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fetch = sim._fetch(sim._as_double(emb), sim.AnnParams(), range(4))
    with pytest.raises(ValueError, match="does not match"):
        sim.ivfpq_knn_batch(emb, n_queries=4, dims=32, head_fetch=fetch)
    with pytest.raises(ValueError, match="does not match"):
        sim.ivfpq_knn_batch(emb, n_queries=3, head_fetch=fetch)
    with pytest.raises(ValueError, match="does not match"):
        sim.ivf_knn_batch(emb, n_queries=4, n_probe=2, head_fetch=fetch)
    # an IVF-only fetch cannot serve the PQ scorer
    ivf_only = sim._fetch(sim._as_double(emb), sim.AnnParams(), range(4), pq=False)
    with pytest.raises(ValueError, match="does not match"):
        sim.ivfpq_knn_batch(emb, n_queries=4, head_fetch=ivf_only)
    # matching parameters: the shared fetch serves both legs unchanged
    got = sorted(tuple(r) for r in sim.ivfpq_knn_batch(
        emb, n_queries=4, head_fetch=fetch).collect())
    assert got == sorted(tuple(r) for r in sim.ivfpq_knn_batch(
        emb, n_queries=4).collect())
    got = sorted(tuple(r) for r in sim.ivf_knn_batch(
        emb, n_queries=4, head_fetch=fetch).collect())
    assert got == sorted(tuple(r) for r in sim.ivf_knn_batch(
        emb, n_queries=4).collect())


def test_probe_order_matches_engine_desc(spark):
    """The one driver-side probe ranking orders scores exactly like
    Spark's orderBy(desc(c), asc(cid)): NaN first, then real values
    descending with -0.0 == 0.0, NULL last, ties by cid ascending."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators.similarity import _probe_order

    nan, inf = float("nan"), float("inf")
    rows = [
        (0.5, 7), (None, 3), (nan, 9), (0.0, 4), (-0.0, 2), (0.5, 1),
        (nan, 5), (-inf, 8), (None, 0), (-0.25, 6), (inf, 11), (-0.0, 10),
        (0.999999, 12),
    ]
    want = [
        r["cid"]
        for r in spark.createDataFrame(rows, "c double, cid long")
        .orderBy(F.desc("c"), F.asc("cid"))
        .collect()
    ]
    assert [cid for _, cid in _probe_order(rows)] == want


def test_retrieval_quality_metrics_are_consistent(spark, sf_dir):
    """The eval op's metrics must be internally consistent with its own
    members: ivf recall is recomputed here from ivf_knn_batch vs
    knn_batch truth overlap; every system reports n_returned == k, and
    MRR is 1e6 div (rank of the exact #2 neighbor) or 0."""
    from data_pipeline_example_spark import curation
    from data_pipeline_example_spark.operators import similarity as sim

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {(r["system"], r["query_id"]): r
           for r in curation.retrieval_quality(docs, emb).collect()}
    assert len(out) == 12  # 3 systems x 4 queries
    truth = {}
    for r in sim.knn_batch(emb, n_queries=4, k=10).collect():
        truth.setdefault(r["query_id"], {})[r["vec_id"]] = r["rank"]
    ivf = {}
    for r in sim.ivf_knn_batch(emb, n_queries=4, k=10).collect():
        ivf.setdefault(r["query_id"], {})[r["vec_id"]] = r["rank"]
    for q in range(4):
        r = out[("ivf", q)]
        hits = len(set(ivf[q]) & set(truth[q]))
        assert r["n_returned"] == 10
        assert r["hits"] == hits
        assert r["recall_milli"] == hits * 1000 // 10
        t1 = next(v for v, rk in truth[q].items() if rk == 2)
        want_mrr = 1_000_000 // ivf[q][t1] if t1 in ivf[q] else 0
        assert r["mrr_micro"] == want_mrr
    # self (rank 1 in truth) is served by both vector systems, so
    # every vector-system query has at least one hit
    assert all(out[(s, q)]["hits"] >= 1
               for s in ("ivf", "ivfpq") for q in range(4))


def test_retrieval_quality_holds_over_materialized_index(spark, sf_dir, tmp_path):
    """The registered retrieval_quality grades ivfpq_knn IN-PLAN and
    leans on equivalence tests to claim the written-index serving path
    (VERDICT r13 #5). Close that hop end-to-end: write the index via
    write_ann_index, serve the same query batch via
    ivfpq_knn_index_batch, recompute recall@k/MRR against the same
    exact knn_batch truth — the metric rows must be IDENTICAL to the
    op's 'ivfpq' system rows."""
    from data_pipeline_example_spark import curation
    from data_pipeline_example_spark.operators import similarity as sim

    n_queries, k = 4, 10
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    want = {r["query_id"]: (r["n_returned"], r["hits"],
                            r["recall_milli"], r["mrr_micro"])
            for r in curation.retrieval_quality(docs, emb).collect()
            if r["system"] == "ivfpq"}

    path = str(tmp_path / "ann_rq")
    sim.write_ann_index(emb, path)
    qvs = [(r["vec_id"], [float(x) for x in r["embedding"]])
           for r in emb.filter(F.col("vec_id") < n_queries).collect()]
    served: dict = {}
    for r in sim.ivfpq_knn_index_batch(spark, path, qvs, k=k).collect():
        served.setdefault(r["query_id"], {})[r["vec_id"]] = r["rank"]

    truth: dict = {}
    for r in sim.knn_batch(emb, n_queries=n_queries, k=k).collect():
        truth.setdefault(r["query_id"], {})[r["vec_id"]] = r["rank"]

    got = {}
    for q in range(n_queries):
        hits = len(set(served[q]) & set(truth[q]))
        t1 = next(v for v, rk in truth[q].items() if rk == 2)
        mrr = 1_000_000 // served[q][t1] if t1 in served[q] else 0
        got[q] = (len(served[q]), hits, hits * 1000 // k, mrr)
    assert got == want


def test_minhash_incremental_one_sided_best_match(spark):
    """Ingestion dedup is strictly NEW-vs-OLD: two near-identical docs
    inside the new batch must BOTH admit (no new-new pair), a new doc
    matching two old docs keeps the higher-jaccard one, and an exact
    tie breaks to the lowest old doc_id. Every new doc gets exactly one
    verdict row, including unshinglable short docs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    mk = lambda i, t: (i, t, "en", "s", len(t))
    old = spark.createDataFrame(
        [
            mk(1, base),                             # near-dup target
            mk(2, base + " lambda"),                 # slightly different
            mk(4, base),                             # exact twin of 1 (tie case)
            mk(5, "completely different content about other things entirely ok"),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    new = spark.createDataFrame(
        [
            mk(10, base),            # matches old 1/4 (tied exact) and 2
            mk(11, "unrelated brand new material nothing shared with corpus docs"),
            mk(12, "unrelated brand new material nothing shared with corpus doc"),
            mk(13, "xy"),            # < k tokens: unshinglable
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.minhash_incremental(new, old, threshold=0.3).collect()
    }
    assert set(rows) == {10, 11, 12, 13}
    # best match: jaccard 1.0 against both 1 and 4 -> tie to lowest id 1
    assert rows[10]["admit"] == 0 and rows[10]["dup_of"] == 1
    assert rows[10]["jaccard"] == 1.0
    # 11 and 12 are near-dups of EACH OTHER but both new -> both admit
    assert rows[11]["admit"] == 1 and rows[11]["dup_of"] is None
    assert rows[12]["admit"] == 1 and rows[12]["jaccard"] is None
    assert rows[13]["admit"] == 1


def test_clustering_silhouette_planted_geometry(spark):
    """Sign-split micro silhouette on planted 2-D geometry: vectors on
    their centroid's axis score near +1e6; a vector exactly between the
    two centroids scores 0; output domain is the assigned clusters."""
    from data_pipeline_example_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0], 0),   # centroid 0
        (1, [0.0, 1.0], 0),   # centroid 1
        (2, [1.0, 0.001], 0),  # tight on axis 0
        (3, [0.001, 1.0], 0),  # tight on axis 1
        (4, [1.0, 1.0], 0),   # equidistant: cos .7071 to both
    ]
    docs = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r["cluster_id"]: r for r in
           sim.clustering_silhouette(docs, n_centroids=2).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_vecs"] + out[1]["n_vecs"] == 5
    # equidistant vec 4 ties to centroid 0 (id asc) with s = 0; the
    # axis-tight members have a ~0, b ~0.29 → s near +1e6, so both
    # cluster means are strongly positive but below 1e6
    for c in (0, 1):
        assert 0 < out[c]["mean_silhouette_micro"] <= 1_000_000
    # perfect-fit members dominate: cluster 1 (centroid + tight member,
    # no tie-absorbed middle vector) sits above cluster 0's mean
    assert out[1]["mean_silhouette_micro"] >= out[0]["mean_silhouette_micro"]


def test_cluster_coherence_clique_vs_chain(spark):
    """Density separates a welded chain from a true clique: planted
    near-dup CLIQUE (3 mutually-similar docs) scores density 1e6;
    unrelated filler forms no cluster rows."""
    from data_pipeline_example_spark.operators import dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (0, base, "s"),
            (1, base + " tail", "s"),
            (2, base + " end", "s"),
            (3, "completely unrelated filler words with nothing shared here", "s"),
        ],
        ["doc_id", "text", "source"],
    )
    out = {r["cluster_id"]: r for r in dd.cluster_coherence(docs).collect()}
    assert set(out) == {0}
    row = out[0]
    assert row["n_members"] == 3
    # 3 members, all pairs verified → density = 2*3*1e6/(3*2) = 1e6
    assert row["n_pairs"] == 3
    assert row["density_micro"] == 1_000_000
    assert 100_000 < row["mean_jaccard_micro"] <= 1_000_000


def test_hard_negatives_planted_labels(spark):
    """The mined negative is the most-similar DIFFERENT-label vector:
    anchors ignore a nearer same-label twin; single-label buckets emit
    nothing; null labels group under -1."""
    from data_pipeline_example_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.01, 0.0], 0),   # same-label twin of 0 (nearest overall)
        (2, [0.9, 0.3, 0.0], 1),    # the true hard negative for 0/1
        (3, [0.0, 0.0, 1.0], None), # null label → -1: negative for all
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r["vec_id"]: r for r in sim.hard_negatives(emb).collect()}
    assert out[0]["neg_id"] == 2 and out[0]["neg_label"] == 1
    assert out[1]["neg_id"] == 2       # twin 0 skipped: same label
    assert out[2]["neg_id"] in (0, 1)  # nearest label-0 vector
    assert out[3]["label"] == -1 and out[3]["neg_id"] in (0, 1, 2)

    mono = spark.createDataFrame(
        [(i, [1.0, float(i)], 7) for i in range(4)],
        ["vec_id", "embedding", "label"],
    )
    assert sim.hard_negatives(mono).count() == 0  # no other label exists


def test_contrastive_triplets_planted_labels(spark):
    """Tiny planted frame: positives are same-label, negatives
    different-label, margin = micro(cos_pos) - micro(cos_neg), and an
    anchor missing either side emits nothing."""
    from data_pipeline_example_spark.operators import similarity as sim

    # 4 vectors, one bucket (n=4 -> k=1): labels {0: A, 1: A, 2: B, 3: B}
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 1),
        (1, [0.9, 0.1, 0.0, 0.0], 1),
        (2, [0.0, 1.0, 0.0, 0.0], 2),
        (3, [0.1, 0.9, 0.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label long"
    )
    out = {r["vec_id"]: r for r in sim.contrastive_triplets(emb).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0]["pos_id"] == 1 and out[0]["neg_id"] in (2, 3)
    assert out[2]["pos_id"] == 3
    for r in out.values():
        assert r["margin_micro"] == round(r["cos_pos"] * 1e6) - round(
            r["cos_neg"] * 1e6
        )
        assert r["margin_micro"] > 0  # planted clusters are separable

    # single-label frame -> a triplet needs both sides -> empty
    mono = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0], 7) for i in range(4)],
        "vec_id long, embedding array<double>, label long",
    )
    assert sim.contrastive_triplets(mono).count() == 0


def test_filtered_ivf_knn_predicate_and_probe_widening(spark, sf_dir):
    """Every hit satisfies the predicate; the widened probe set gives
    filtered recall >= what the UNWIDENED probe count would: the
    filtered top-10 must contain the true filtered top-1 (brute-force
    anchor), and an empty filter yields an empty frame."""
    from data_pipeline_example_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.filtered_ivf_knn(emb, label=3).collect()
    assert 0 < len(out) <= 10
    assert all(r["label"] == 3 for r in out)
    # brute-force filtered anchor: the global best label-3 cosine should
    # appear in the widened-probe result (probe widening exists exactly
    # to protect filtered recall; at this selectivity the probe set
    # covers most centroids so the top-1 must survive)
    bf = (
        sim.knn(emb, query_id=0, k=500)
        .join(emb.select("vec_id", "label"), "vec_id")
        .filter(F.col("label") == 3)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(1)
        .collect()[0]
    )
    assert bf["vec_id"] in {r["vec_id"] for r in out}
    # a label outside the domain -> empty result, stable schema
    empty = sim.filtered_ivf_knn(emb, label=10**9)
    assert empty.count() == 0
    assert empty.columns == ["vec_id", "label", "cos_sim"]


def test_coreset_selection_planted_spread(spark):
    """Greedy k-center on three orthogonal clusters: the first three
    picks must cover all three directions before any near-duplicate is
    chosen, and dist_micro is non-increasing after the seed."""
    from data_pipeline_example_spark.operators import similarity as sim

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.001, 0.0, 0.0], 0),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.999, 0.001, 0.0], 1),   # near-dup of 2
        (4, [0.0, 0.0, 1.0, 0.0], 2),
        (5, [0.0, 0.0, 0.999, 0.001], 2),   # near-dup of 4
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label long"
    )
    out = sim.coreset_selection(emb, k=4).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4]
    assert out[0]["vec_id"] == 0 and out[0]["dist_micro"] == 0
    # picks 2 and 3 are the two other orthogonal directions (ids 2, 4
    # beat their .999 near-dups on the lowest-id tie)
    assert {out[1]["vec_id"], out[2]["vec_id"]} == {2, 4}
    assert out[1]["dist_micro"] == 1000000  # orthogonal: cos 0
    # the 4th pick is a near-dup at tiny distance — spread first
    assert out[3]["dist_micro"] < 10000
    assert out[3]["vec_id"] in {1, 3, 5}


def test_embedding_dimension_health_planted_dead_dim(spark):
    """A constant dimension flags dead; a varying one doesn't; micro
    means are the exact integral divisions."""
    from data_pipeline_example_spark.operators import similarity as sim

    vecs = [
        (0, [0.5, 0.123, 0.0, 1.0], 0),
        (1, [0.5, -0.456, 0.0, -1.0], 0),
        (2, [0.5, 0.789, 0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label long"
    )
    out = {r["pos"]: r for r in sim.embedding_dimension_health(emb).collect()}
    assert len(out) == 4
    assert out[0]["is_dead"] == 1      # constant 0.5: zero variance
    assert out[0]["mean_micro"] == 500_000
    assert out[2]["is_dead"] == 1      # constant 0.0
    assert out[1]["is_dead"] == 0 and out[3]["is_dead"] == 0
    assert out[1]["mean_micro"] == (123000 - 456000 + 789000) // 3
    assert out[3]["var_milli2"] > 0


def test_pynorm_bit_identical_to_engine_norm(spark, sf_dir):
    """_pynorm (the driver-side L2 norm the inline ANN paths embed as
    literals) must be BIT-identical to the in-plan V.norm expression —
    same left-to-right fold, correctly-rounded IEEE ops, no decimal
    rounding anywhere. Checked on the real corpus and on adversarial
    magnitudes (denormal-adjacent, huge, tiny, negative)."""
    import random

    import pyspark.sql.functions as F

    import data_pipeline_example_spark.functions.vectors as V
    from data_pipeline_example_spark.operators.similarity import (
        _as_double,
        _pynorm,
    )
    from data_pipeline_example_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        _as_double(emb)
        .select("v", V.norm(F.col("v")).alias("n"))
        .collect()
    )
    assert rows
    for r in rows:
        assert _pynorm(r["v"]) == r["n"]

    random.seed(7)
    vals = [
        [random.uniform(-1e308, 1e308) * 1e-155 for _ in range(16)]
        for _ in range(50)
    ]
    vals += [[5e-324 * random.randint(1, 9) for _ in range(16)]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "vec_id long, v array<double>"
    )
    for r in df.select("v", V.norm(F.col("v")).alias("n")).collect():
        assert _pynorm(r["v"]) == r["n"]


def test_srp_signature_expr_is_bigint_through_64_bits(spark, sf_dir):
    """At 64 bits the SQL signature is a bigint (bit 63 is the sign
    bit) equal to the numpy sign bits packed as int64, the streaming
    dedup key it feeds is a bigint too, and bit counts outside 1..64
    are refused."""
    import numpy as np
    import pytest
    from pyspark.sql.types import LongType

    from data_pipeline_example_spark.operators.similarity import (
        _srp_signs,
        srp_signature_expr,
    )
    from data_pipeline_example_spark.sources import load_table
    from data_pipeline_example_spark.streaming import curation as scur

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = emb.selectExpr("vec_id", "embedding", f"{srp_signature_expr('embedding', 64, 64)} AS sig")
    assert sigs.schema["sig"].dataType == LongType()
    H = np.array(_srp_signs(64, 64))
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    rows = sigs.collect()
    assert rows
    for r in rows:
        prod = np.asarray(r["embedding"], dtype=np.float64)[None, :] * H
        bits = np.round(np.cumsum(prod, axis=1)[:, -1], 6) >= 0
        want = np.bitwise_or.reduce(weights[bits]) if bits.any() else np.uint64(0)
        assert r["sig"] == int(np.uint64(want).view(np.int64)), r["vec_id"]

    vecs = spark.createDataFrame(
        [("0", [1.0] * 64, None)], "vec_id string, embedding array<double>, ingest_ts timestamp"
    )
    admitted = scur.dedup_embedding_stream(vecs, n_bits=64, dims=64)
    assert admitted.schema["srp_sig"].dataType == LongType()
    for bad in (0, 65):
        with pytest.raises(ValueError, match="n_bits"):
            srp_signature_expr("embedding", bad, 64)
