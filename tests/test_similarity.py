"""Similarity search: brute-force top-k vs numpy oracle; LSH recall vs
brute force; near-dup pair detection with planted duplicates."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from protosc_spark.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    lsh_topk,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"
QUERIES = [0, 1, 2, 3, 4]
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB).cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    return pdf["vec_id"].to_numpy(), X


def _numpy_topk(ids, X, qid, k):
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    q = U[np.where(ids == qid)[0][0]]
    cos = U @ q
    order = sorted(range(len(ids)), key=lambda i: (-round(cos[i], 6), ids[i]))
    out = [(int(ids[i]), round(float(cos[i]), 6)) for i in order if ids[i] != qid]
    return out[:k]


def test_brute_force_matches_numpy(emb, emb_np):
    ids, X = emb_np
    got = (
        brute_force_topk(emb, QUERIES, k=K)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    for q in QUERIES:
        sub = got[got["query_id"] == q]
        want = _numpy_topk(ids, X, q, K)
        assert list(zip(sub["neighbor_id"], sub["cosine"])) == want


def test_lsh_recall_vs_brute_force(emb):
    exact = (
        brute_force_topk(emb, QUERIES, k=K).select("query_id", "neighbor_id").toPandas()
    )
    # this corpus has no cluster structure (top-10 cosine ~0.3), so LSH
    # needs shallow buckets: 4 planes x 16 tables -> expected recall ~.88
    approx = (
        lsh_topk(emb, QUERIES, k=K, n_planes=4, n_tables=16)
        .select("query_id", "neighbor_id")
        .toPandas()
    )
    hits = len(exact.merge(approx, on=["query_id", "neighbor_id"]))
    recall = hits / len(exact)
    assert recall >= 0.6  # approximate path must be in the right ballpark


def test_neardup_finds_planted_duplicates(spark, emb):
    dup = emb.where(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + 5000
    )
    # tiny deterministic noise so cosine is high but < 1
    noisy = dup.withColumn(
        "embedding",
        F.transform(
            "embedding", lambda x, i: x + (F.lit(1e-4) * ((i % 3) - 1)).cast("float")
        ),
    )
    both = emb.unionByName(noisy)
    pairs = cosine_neardup_pairs(both, tau=0.99).toPandas()
    planted = pairs[(pairs["id_b"] >= 5000) & (pairs["id_a"] == pairs["id_b"] - 5000)]
    assert len(planted) == 20
    assert (planted["cosine"] >= 0.99).all()


def test_neardup_exact_equals_lsh_at_high_tau(emb):
    a = (
        cosine_neardup_pairs(emb, tau=0.9, exact=True)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    b = (
        cosine_neardup_pairs(emb, tau=0.9, exact=False)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    # LSH result must be a subset; at tau=0.9 with 8x8 tables expect
    # near-complete recall
    merged = a.merge(b, on=["id_a", "id_b"], how="left", indicator=True)
    if len(a):
        recall = (merged["_merge"] == "both").mean()
        assert recall >= 0.9
    assert len(b) <= len(a) or len(a) == 0


class TestIVF:
    """IVF ANN: full probe == exact brute force; partial probe keeps
    high recall at a fraction of the scoring cost; everything
    deterministic across partitionings (the quantizer trains on a
    hash-ordered sample, not rand())."""

    def test_full_probe_equals_bruteforce(self, spark, emb):
        from protosc_spark.similarity import brute_force_topk, ivf_topk

        exact = brute_force_topk(emb, [0, 1, 2, 3, 4], k=10)
        ivf = ivf_topk(emb, [0, 1, 2, 3, 4], k=10, n_centroids=8, n_probe=8)
        a = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
        b = {(r.query_id, r.rank): r.neighbor_id for r in ivf.collect()}
        assert a == b

    def test_partial_probe_recall(self, spark, emb):
        from protosc_spark.similarity import brute_force_topk, ivf_topk

        exact = brute_force_topk(emb, [0, 1, 2, 3, 4], k=10)
        approx = ivf_topk(emb, [0, 1, 2, 3, 4], k=10,
                          n_centroids=8, n_probe=4)
        want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(want & got) / len(want)
        # measured 0.74 at half the cells probed on this fixture
        assert recall >= 0.65

    def test_deterministic_across_partitioning(self, spark, emb):
        from protosc_spark.similarity import ivf_topk

        a = ivf_topk(emb, [0, 1], k=5, n_centroids=8, n_probe=3).collect()
        b = ivf_topk(emb.repartition(7), [0, 1], k=5,
                     n_centroids=8, n_probe=3).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_centroids_deterministic_and_unit(self, spark, emb):
        import numpy as np

        from protosc_spark.similarity import ivf_train_centroids

        c1 = ivf_train_centroids(emb, n_centroids=8)
        c2 = ivf_train_centroids(emb.repartition(5), n_centroids=8)
        assert np.array_equal(c1, c2)
        assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_production_shape_recall_and_balance(spark):
    """IVF at realistic cell counts (256 cells, 50k clustered vectors,
    the shape the degenerate 8-cell full-probe gate can't see): pins
    the quantizer's per-cell balance and partial-probe recall@10 so the
    scale path's behavior is regression-guarded, not just its exact
    full-probe limit (round-2 VERDICT #9)."""
    import pandas as pd

    from protosc_spark.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        ivf_train_centroids,
    )

    rng = np.random.default_rng(7)
    n, dim, n_clu = 50_000, 16, 300
    centers = rng.normal(size=(n_clu, dim))
    asg = rng.integers(0, n_clu, size=n)
    X = centers[asg] + 0.15 * rng.normal(size=(n, dim))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(X.astype(np.float64)),
        }
    )
    emb = spark.createDataFrame(pdf).repartition(16).cache()
    emb.count()

    C = ivf_train_centroids(emb, n_centroids=256, sample_n=4096)
    counts = (
        ivf_assign(emb, C).groupBy("cell").count().toPandas()["count"].to_numpy()
    )
    # balance: the sampled spherical k-means quantizer must spread the
    # corpus — no dead quantizer, no catastrophic hot cell (measured:
    # 249/256 non-empty, max/mean 3.3)
    assert len(counts) >= 230
    assert counts.max() / counts.mean() <= 6.0

    qids = [0, 1, 2, 3, 4]
    bf = brute_force_topk(emb, qids, k=10).toPandas()
    truth = {q: set(bf[bf.query_id == q].neighbor_id) for q in qids}
    recalls = {}
    for n_probe in (8, 32):
        got = ivf_topk(
            emb, qids, k=10, n_centroids=256, n_probe=n_probe, centroids=C
        ).toPandas()
        recalls[n_probe] = float(
            np.mean(
                [
                    len(set(got[got.query_id == q].neighbor_id) & truth[q]) / 10
                    for q in qids
                ]
            )
        )
    # clustered corpus: probing 8/256 cells must already recover ~all
    # true neighbors (measured 1.0); more probes never hurt
    assert recalls[8] >= 0.9, recalls
    assert recalls[32] >= recalls[8]
    emb.unpersist()


class TestSemanticDedup:
    def test_single_cell_equals_exact_rule(self, emb, emb_np):
        """n_clusters=1: survivors == 'no smaller tau-neighbor' (the
        gate oracle's form), checked against numpy."""
        from protosc_spark.similarity import semantic_dedup

        got = sorted(
            r["id"] for r in semantic_dedup(emb, tau=0.35, n_clusters=1).collect()
        )
        ids, X = emb_np
        U = X / np.linalg.norm(X, axis=1, keepdims=True)
        S = np.round(U @ U.T, 6)
        want = [
            int(ids[i])
            for i in range(len(ids))
            if not any(
                S[i, j] >= 0.35 for j in range(len(ids)) if ids[j] < ids[i]
            )
        ]
        assert got == sorted(want)

    def test_clustered_survivors_are_superset_of_exact(self, emb):
        """Within-cell pairs are a subset of all pairs, so clustered
        survivors must be a SUPERSET of exact survivors (at ANY tau —
        here a loose one where cross-cell misses are common)."""
        from protosc_spark.similarity import semantic_dedup

        exact = {
            r["id"] for r in semantic_dedup(emb, tau=0.35, n_clusters=1).collect()
        }
        clustered = {
            r["id"] for r in semantic_dedup(emb, tau=0.35, n_clusters=8).collect()
        }
        assert exact <= clustered
        assert len(exact) < emb.count()  # fixture actually drops rows

    def test_clustered_drops_planted_near_identical_dups(self, spark, emb):
        """The SemDeDup operating regime: true near-duplicates (cosine
        ~1) quantize to the SAME cell, so the clustered path drops
        them at full recall — plant perturbed copies of 20 vectors
        and require every copy dropped, every original kept."""
        from protosc_spark.similarity import semantic_dedup

        dup = emb.where(F.col("vec_id") < 20).withColumn(
            "vec_id", F.col("vec_id") + 5000
        )
        noisy = dup.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: x + (F.lit(1e-4) * ((i % 3) - 1)).cast("float"),
            ),
        )
        both = emb.unionByName(noisy)
        survivors = {
            r["id"]
            for r in semantic_dedup(both, tau=0.99, n_clusters=8).collect()
        }
        planted = {5000 + i for i in range(20)}
        assert survivors.isdisjoint(planted)  # every copy dropped
        assert set(range(20)) <= survivors  # min-id originals kept

    def test_deterministic_across_partitioning(self, spark, emb):
        from protosc_spark.similarity import semantic_dedup

        a = sorted(
            r["id"] for r in semantic_dedup(emb, tau=0.35, n_clusters=8).collect()
        )
        b = sorted(
            r["id"]
            for r in semantic_dedup(
                emb.repartition(13), tau=0.35, n_clusters=8
            ).collect()
        )
        assert a == b


# ---------------------------------------------------------------------------
# SQ8 scalar quantization
# ---------------------------------------------------------------------------

def test_sq8_codes_are_dim_bytes_and_error_bounded(spark, emb):
    """Codes are exactly dim uint8 bytes (8x smaller than the float64
    array) and dequantization error is within scale/2 per dimension."""
    import numpy as np
    from protosc_spark.similarity import sq8_encode, sq8_train, with_unit_vectors

    lo, hi = sq8_train(emb)
    scale = (hi - lo) / 255.0
    dim = len(lo)
    rows = (
        sq8_encode(emb, lo, hi)
        .join(
            with_unit_vectors(emb).select(
                emb["vec_id"].alias("id"), "unit"
            ),
            "id",
        )
        .limit(50)
        .collect()
    )
    for r in rows:
        code = np.frombuffer(r["code"], dtype=np.uint8).astype(np.float64)
        assert len(code) == dim
        err = np.abs((code * scale + lo) - np.array(r["unit"]))
        assert (err <= scale / 2 + 1e-12).all()


def test_sq8_topk_recovers_exact_topk(spark, emb):
    """With exact re-rank over 4k quantized candidates, SQ8 returns the
    EXACT brute-force top-10 on this corpus (deterministic — no hash
    family, no RNG — so this is a stable contract, and the driver gate
    reuses the brute-force SQL oracle for sim_topk_sq8)."""
    from protosc_spark.similarity import brute_force_topk, sq8_topk

    a = sorted(map(tuple, sq8_topk(emb, [0, 1, 2, 3, 4], k=10).collect()))
    e = sorted(map(tuple, brute_force_topk(emb, [0, 1, 2, 3, 4], k=10).collect()))
    assert a == e


def test_sq8_rerank1_still_high_recall(spark, emb):
    """Without the re-rank cushion (rerank_factor=1 ranks purely on
    quantized scores) recall stays high — pins that the quantizer
    itself carries the signal, not just the re-rank."""
    from protosc_spark.similarity import brute_force_topk, sq8_topk

    a = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_topk(emb, [0, 1, 2, 3, 4], k=10, rerank_factor=1).collect()
    }
    e = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, [0, 1, 2, 3, 4], k=10).collect()
    }
    assert len(a & e) / len(e) >= 0.8


def test_pq_codes_and_recall(spark, emb):
    """PQ codes are m bytes (64x smaller than the float64 array for
    dim 64); ADC + exact re-rank recovers >= 0.9 of the exact top-10;
    output is deterministic across runs (sampled k-means, fixed init,
    no RNG — the basis for the frozen gate oracle)."""
    from protosc_spark.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    books = pq_train(emb, m=8)
    assert books.shape[0] == 8 and books.shape[2] == 8  # dim 64 / m 8
    r = pq_encode(emb, books).first()
    assert len(r["code"]) == 8

    a = sorted(map(tuple, pq_topk(emb, [0, 1, 2, 3, 4], k=10).collect()))
    e = sorted(
        map(tuple, brute_force_topk(emb, [0, 1, 2, 3, 4], k=10).collect())
    )
    recall = len({x[:2] for x in a} & {x[:2] for x in e}) / len(e)
    assert recall >= 0.9
    a2 = sorted(map(tuple, pq_topk(emb, [0, 1, 2, 3, 4], k=10).collect()))
    assert a == a2


def test_label_centroids_vs_numpy(spark, emb, emb_np):
    import numpy as np
    from protosc_spark.similarity import label_centroids

    got = {
        (r["label"], r["dim"]): r["centroid"]
        for r in label_centroids(emb).collect()
    }
    rows = emb.select("vec_id", "label").orderBy("vec_id").collect()
    labels = np.array([r["label"] for r in rows])
    _ids, X = emb_np  # ordered by vec_id in the fixture
    for lb in set(labels.tolist()):
        want = X[labels == lb].mean(axis=0)
        for d in range(X.shape[1]):
            assert abs(got[(lb, d)] - round(float(want[d]), 6)) < 1e-9


def test_knn_graph_full_probe_equals_bruteforce(spark, emb):
    """Corpus-as-queries kNN graph at n_probe == n_centroids is exactly
    the all-pairs top-k: every vector, against every other, same tie
    rule as brute_force_topk — and the whole thing runs with zero
    per-query driver artifacts (the round-3 verdict #4 contract)."""
    from protosc_spark.similarity import brute_force_topk, knn_graph

    got = sorted(
        map(tuple, knn_graph(emb, k=5, n_centroids=8, n_probe=8).collect())
    )
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    want = sorted(
        map(tuple, brute_force_topk(emb, all_ids, k=5).collect())
    )
    assert got == want


def test_knn_graph_pruned_probe_recall(spark, emb):
    """The scale config (n_probe < n_centroids) touches only
    n_probe/n_centroids of the candidate space yet keeps high recall
    of the exact graph edges, and is deterministic across runs."""
    from protosc_spark.similarity import brute_force_topk, knn_graph

    approx = knn_graph(emb, k=5, n_centroids=8, n_probe=4)
    a = sorted(map(tuple, approx.collect()))
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    e = sorted(map(tuple, brute_force_topk(emb, all_ids, k=5).collect()))
    # measured 0.769 on this (clusterless, uniform-random — IVF's worst
    # case) corpus; deterministic, so the bound has real margin
    recall = len({x[:2] for x in a} & {x[:2] for x in e}) / len(e)
    assert recall >= 0.7
    a2 = sorted(map(tuple, knn_graph(emb, k=5, n_centroids=8, n_probe=4).collect()))
    assert a == a2


def test_ivf_topk_batch_external_queries(spark, emb):
    """Queries as a DataFrame (disjoint from the corpus ids): full
    probing returns each query's exact corpus top-k."""
    from protosc_spark.similarity import brute_force_topk, ivf_topk_batch

    queries = (
        emb.where(F.col("vec_id") < 5)
        .withColumn("vec_id", F.col("vec_id") + 100000)
    )
    got = sorted(
        map(
            tuple,
            ivf_topk_batch(
                emb, queries, k=10, n_centroids=8, n_probe=8
            ).collect(),
        )
    )
    want = sorted(
        (r[0] + 100000, r[1], r[2], r[3])
        for r in brute_force_topk(emb, [0, 1, 2, 3, 4], k=10).collect()
        if True
    )
    # brute_force excludes self (qid==nid); the shifted external query
    # never collides with a corpus id, so re-derive expectations with
    # the original vector INCLUDED as its own rank-1 neighbor
    import numpy as np

    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    want = []
    for q in range(5):
        cos = np.round(U @ U[q], 6)
        order = np.lexsort((ids, -cos))
        for rank, j in enumerate(order[:10], start=1):
            want.append((100000 + q, int(ids[j]), rank, float(cos[j])))
    assert got == sorted(want)


def test_ivfpq_knn_graph_exact_at_degenerate_config(spark, emb):
    """IVF-PQ batch path at full probing + corpus-covering shortlist ==
    exact all-pairs top-k (the gate config)."""
    from protosc_spark.similarity import brute_force_topk, ivfpq_topk_batch

    got = sorted(
        map(
            tuple,
            ivfpq_topk_batch(
                emb, None, k=5, n_centroids=8, n_probe=8, rerank_factor=100
            ).collect(),
        )
    )
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    want = sorted(map(tuple, brute_force_topk(emb, all_ids, k=5).collect()))
    assert got == want


def test_ivfpq_knn_graph_pruned_recall_and_determinism(spark, emb):
    """The compressed scale config (pruned probing, 4x shortlist):
    high recall of the exact graph, deterministic across runs."""
    from protosc_spark.similarity import brute_force_topk, ivfpq_topk_batch

    a = sorted(
        map(
            tuple,
            ivfpq_topk_batch(
                emb, None, k=5, n_centroids=8, n_probe=4, rerank_factor=4
            ).collect(),
        )
    )
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    e = sorted(map(tuple, brute_force_topk(emb, all_ids, k=5).collect()))
    recall = len({x[:2] for x in a} & {x[:2] for x in e}) / len(e)
    assert recall >= 0.6  # bounded by the same IVF pruning as knn_graph
    a2 = sorted(
        map(
            tuple,
            ivfpq_topk_batch(
                emb, None, k=5, n_centroids=8, n_probe=4, rerank_factor=4
            ).collect(),
        )
    )
    assert a == a2


def test_ivfpq_batch_external_queries(spark, emb):
    """IVF-PQ batch path with a DataFrame query set disjoint from the
    corpus (exercises the post-round-4 re-rank join of query vectors
    by id): full probing + corpus-covering shortlist == each query's
    exact corpus top-k, self-inclusion expected (ids never collide)."""
    import numpy as np

    from protosc_spark.similarity import ivfpq_topk_batch

    queries = (
        emb.where(F.col("vec_id") < 3)
        .withColumn("vec_id", F.col("vec_id") + 200000)
    )
    got = sorted(
        map(
            tuple,
            ivfpq_topk_batch(
                emb, queries, k=10, n_centroids=8, n_probe=8,
                rerank_factor=100,
            ).collect(),
        )
    )
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    want = []
    for q in range(3):
        cos = np.round(U @ U[q], 6)
        order = np.lexsort((ids, -cos))
        for rank, j in enumerate(order[:10], start=1):
            want.append((200000 + q, int(ids[j]), rank, float(cos[j])))
    assert got == sorted(want)


def test_batch_external_queries_with_colliding_ids(spark, emb):
    """External query ids that COLLIDE with corpus ids must not be
    self-excluded (advice r4: the id namespaces are unrelated): each
    colliding query's rank-1 neighbor is its own corpus twin at
    cosine 1.0, for both the IVF and IVF-PQ batch kernels."""
    from protosc_spark.similarity import ivf_topk_batch, ivfpq_topk_batch

    queries = emb.where(F.col("vec_id") < 3)  # ids 0,1,2 == corpus ids
    for fn, kw in [
        (ivf_topk_batch, {}),
        (ivfpq_topk_batch, {"rerank_factor": 100}),
    ]:
        top1 = (
            fn(emb, queries, k=10, n_centroids=8, n_probe=8, **kw)
            .where(F.col("rank") == 1)
            .orderBy("query_id")
            .collect()
        )
        assert [(r["query_id"], r["neighbor_id"], r["cosine"]) for r in top1] == [
            (0, 0, 1.0),
            (1, 1, 1.0),
            (2, 2, 1.0),
        ]


def test_knn_graph_self_exclusion_still_holds(spark, emb):
    """queries=None keeps the kNN-graph contract: no self edges."""
    from protosc_spark.similarity import knn_graph

    g = knn_graph(emb, k=3, n_centroids=8, n_probe=8)
    assert g.where(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_hot_cell_salting_is_lossless_and_bounded(spark, emb):
    """Plant one giant cell (a quantizer whose other centroids are
    near-antipodal to the data, so ~all vectors land in cell 0) and a
    tiny max_cell_rows: results are BIT-IDENTICAL to the unsalted run,
    and no (cell, salt) sub-group holds more than ~max_cell_rows
    members (hash-balanced, 2x slack)."""
    import numpy as np

    from protosc_spark.similarity import (
        _salt_hot_cells,
        ivf_assign,
        ivf_topk_batch,
        with_unit_vectors,
    )

    pdf = emb.toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    c0 = U.mean(axis=0)
    c0 /= np.linalg.norm(c0)
    rng = np.random.default_rng(7)
    C = np.vstack(
        [c0]
        + [
            -c0 + 1e-3 * rng.standard_normal(len(c0))
            for _ in range(3)
        ]
    )
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    members = ivf_assign(emb, C).select(
        F.col("id").alias("neighbor_id"), "cell", "unit"
    )
    sizes = {r["cell"]: r["n"] for r in members.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    # a majority cell (~62% of the fixture: the data is not perfectly
    # directional) — >>max_cell_rows=64, so it splits into >=4 salts
    assert max(sizes.values()) >= 0.5 * sum(sizes.values())

    salted = ivf_topk_batch(
        emb, None, k=5, n_probe=4, centroids=C, max_cell_rows=64
    )
    unsalted = ivf_topk_batch(
        emb, None, k=5, n_probe=4, centroids=C, max_cell_rows=1 << 20
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, unsalted.collect())
    )

    probes = members.select(
        F.col("neighbor_id").alias("query_id"),
        "cell",
        F.col("unit").alias("q_unit"),
    )
    _, members_s = _salt_hot_cells(probes, members, max_cell_rows=64)
    per_task = members_s.groupBy("cell", "salt").count().collect()
    assert max(r["count"] for r in per_task) <= 2 * 64
    giant = max(sizes, key=sizes.get)
    n_salts = len({r["salt"] for r in per_task if r["cell"] == giant})
    assert n_salts == -(-sizes[giant] // 64)  # ceil split of the hot cell


def test_ivfsq8_knn_graph_exact_at_degenerate_config(spark, emb):
    """IVF-SQ8 batch path at full probing + corpus-covering shortlist
    == exact all-pairs top-k (the gate config)."""
    from protosc_spark.similarity import brute_force_topk, ivfsq8_topk_batch

    got = sorted(
        map(
            tuple,
            ivfsq8_topk_batch(
                emb, None, k=5, n_centroids=8, n_probe=8, rerank_factor=100
            ).collect(),
        )
    )
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    want = sorted(map(tuple, brute_force_topk(emb, all_ids, k=5).collect()))
    assert got == want


def test_ivfsq8_batch_pruned_recall_determinism_and_collisions(spark, emb):
    """Compressed scale config: bounded-recall, deterministic; and an
    external query set with COLLIDING ids keeps its corpus twin (no
    self-exclusion outside kNN-graph mode)."""
    from protosc_spark.similarity import brute_force_topk, ivfsq8_topk_batch

    a = sorted(
        map(
            tuple,
            ivfsq8_topk_batch(
                emb, None, k=5, n_centroids=8, n_probe=4, rerank_factor=4
            ).collect(),
        )
    )
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    e = sorted(map(tuple, brute_force_topk(emb, all_ids, k=5).collect()))
    recall = len({x[:2] for x in a} & {x[:2] for x in e}) / len(e)
    assert recall >= 0.6
    a2 = sorted(
        map(
            tuple,
            ivfsq8_topk_batch(
                emb, None, k=5, n_centroids=8, n_probe=4, rerank_factor=4
            ).collect(),
        )
    )
    assert a == a2

    queries = emb.where(F.col("vec_id") < 3)
    top1 = (
        ivfsq8_topk_batch(
            emb, queries, k=5, n_centroids=8, n_probe=8, rerank_factor=100
        )
        .where(F.col("rank") == 1)
        .orderBy("query_id")
        .collect()
    )
    assert [(r["query_id"], r["neighbor_id"], r["cosine"]) for r in top1] == [
        (0, 0, 1.0),
        (1, 1, 1.0),
        (2, 2, 1.0),
    ]


# ---------------------------------------------------------------------------
# centroid_affinity
# ---------------------------------------------------------------------------

def test_centroid_affinity_matches_numpy(spark):
    import numpy as np

    from protosc_spark.similarity import centroid_affinity

    rng = np.random.default_rng(7)
    rows, vecs = [], {}
    base = rng.normal(size=8)  # shared direction: affinity near 1
    for lbl in range(3):
        vs = [base + 0.1 * rng.normal(size=8) for _ in range(5 + lbl)]
        vecs[lbl] = vs
        rows += [
            (lbl, [float(x) for x in v]) for v in vs
        ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    got = {
        (r.label_a, r.label_b): r
        for r in centroid_affinity(df).collect()
    }
    unit = 10**9
    q = {
        lbl: np.array([
            sum(
                int(np.floor(float(np.float32(v[d])) * unit))
                for v in vs
            )
            for d in range(8)
        ], dtype=object)
        for lbl, vs in vecs.items()
    }
    for (a, b), r in got.items():
        assert a < b
        dot = int(sum(q[a] * q[b]))
        na = int(sum(q[a] * q[a]))
        nb = int(sum(q[b] * q[b]))
        import math

        want = dot / (math.sqrt(na) * math.sqrt(nb))
        assert abs(r.cosine - want) < 1e-12
        assert r.n_a == 5 + a and r.n_b == 5 + b
    assert len(got) == 3
    # same-region labels (all share `base`-ish direction at 0.1
    # noise): affinity near 1
    assert all(r.cosine > 0.9 for r in got.values())


def test_centroid_affinity_orthogonal_and_zero(spark):
    from protosc_spark.similarity import centroid_affinity

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 2.0, 0.0]),
            (2, [0.0, 0.0, 0.0]),  # zero centroid -> NULL cosine
            (3, [-1.0, 0.0, 0.0]),
        ],
        "label int, embedding array<float>",
    )
    got = {
        (r.label_a, r.label_b): r
        for r in centroid_affinity(df).collect()
    }
    assert got[(0, 1)].cosine == 0.0
    assert got[(0, 3)].cosine == -1.0
    assert got[(0, 2)].cosine is None and got[(1, 2)].cosine is None


def test_centroid_affinity_plan_no_python(spark):
    from protosc_spark.similarity import centroid_affinity

    df = spark.createDataFrame(
        [(0, [1.0]), (1, [2.0])], "label int, embedding array<float>"
    )
    plan = (
        centroid_affinity(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# silhouette_labels
# ---------------------------------------------------------------------------

def test_silhouette_separated_vs_blob(spark):
    from protosc_spark.similarity import silhouette_labels

    rows = []
    for i in range(10):
        rows.append((i, 0, [1.0, 0.01 * i, 0.0]))
        rows.append((100 + i, 1, [0.0, 0.01 * i, 1.0]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {r.label: r for r in silhouette_labels(df).collect()}
    assert got[0].mean_sil > 0.99 and got[1].mean_sil > 0.99
    # one blob split arbitrarily: near zero (slightly negative)
    rows2 = [(i, i % 2, [1.0, 0.001 * i]) for i in range(20)]
    df2 = spark.createDataFrame(
        rows2, "vec_id long, label int, embedding array<float>"
    )
    for r in silhouette_labels(df2).collect():
        assert abs(r.mean_sil) < 0.1


def test_silhouette_matches_numpy_reference(spark):
    import numpy as np
    from protosc_spark.similarity import silhouette_labels

    rng = np.random.default_rng(5)
    X = rng.normal(size=(60, 8))
    X[:30] += 2.0
    labels = [0] * 30 + [1] * 30
    rows = [
        (i, labels[i], [float(v) for v in X[i]])
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {r.label: r for r in silhouette_labels(df).collect()}

    # numpy replay with the same quantization
    Q = np.floor(X.astype(np.float32).astype(np.float64) * 1e9)
    cents = {g: Q[np.array(labels) == g].sum(axis=0) for g in (0, 1)}
    sums = {0: [], 1: []}
    for i in range(60):
        ds = {}
        for g, c in cents.items():
            ds[g] = 1.0 - Q[i] @ c / (
                np.sqrt(Q[i] @ Q[i]) * np.sqrt(c @ c)
            )
        a, b = ds[labels[i]], ds[1 - labels[i]]
        s = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
        sums[labels[i]].append(np.floor(s * 1e9))
    for g in (0, 1):
        ref = sum(sums[g]) / (len(sums[g]) * 1e9)
        assert abs(got[g].mean_sil - ref) < 1e-12
        assert got[g].n_scored == 30


def test_silhouette_single_label_and_zero_vectors(spark):
    from protosc_spark.similarity import silhouette_labels

    # single label: b undefined -> NULL mean, n kept
    df = spark.createDataFrame(
        [(i, 0, [1.0, 2.0]) for i in range(5)],
        "vec_id long, label int, embedding array<float>",
    )
    r = silhouette_labels(df).collect()[0]
    assert r.mean_sil is None and r.n == 5 and r.n_scored == 0
    # zero vector excluded from scoring but counted in n
    df2 = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 0, [0.9, 0.1]),
         (2, 1, [0.0, 1.0]), (3, 1, [0.0, 0.0])],
        "vec_id long, label int, embedding array<float>",
    )
    got = {r.label: r for r in silhouette_labels(df2).collect()}
    assert got[1].n == 2 and got[1].n_scored == 1


# ---------------------------------------------------------------------------
# cronbach_alpha
# ---------------------------------------------------------------------------

def _alpha_ref(vectors, unit=10**6):
    """Digit-for-digit replay: quantize, integer moments, one float."""
    import math  # noqa: F401

    n = len(vectors)
    k = len(vectors[0])
    qs = [
        [math_floor(v * float(unit)) for v in vec]
        for vec in vectors
    ]
    sv = 0
    for d in range(k):
        col = [q[d] for q in qs]
        s, qq = sum(col), sum(c * c for c in col)
        sv += n * qq - s * s
    ts = [sum(q) for q in qs]
    st, qt = sum(ts), sum(t * t for t in ts)
    vt = n * qt - st * st
    if k < 2 or n < 2 or vt <= 0:
        return None
    return (float(k) / (float(k) - 1.0)) * (
        1.0 - float(sv) / float(vt)
    )


def math_floor(x):
    import math

    return math.floor(x)


def _mk_emb(spark, vectors, labels=None):
    rows = [
        (i, [float(v) for v in vec],
         0 if labels is None else labels[i])
        for i, vec in enumerate(vectors)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_alpha_consistent_scale_high(spark):
    import random

    from protosc_spark.similarity import cronbach_alpha

    rng = random.Random(21)
    # 4 dims = shared signal + small independent noise: alpha high
    vecs = []
    for _ in range(60):
        sig = rng.uniform(-1, 1)
        vecs.append(
            [sig + rng.uniform(-0.1, 0.1) for _ in range(4)]
        )
    # float32 storage: replay from the values Spark actually reads
    import numpy as np

    vecs32 = [list(np.array(v, dtype=np.float32)) for v in vecs]
    r = cronbach_alpha(_mk_emb(spark, vecs)).collect()[0]
    ref = _alpha_ref([[float(x) for x in v] for v in vecs32])
    assert r.n == 60 and r.k_items == 4
    assert r.alpha == ref and r.alpha > 0.9


def test_alpha_independent_dims_low(spark):
    import random

    import numpy as np

    from protosc_spark.similarity import cronbach_alpha

    rng = random.Random(4)
    vecs = [
        [rng.uniform(-1, 1) for _ in range(4)] for _ in range(80)
    ]
    vecs32 = [list(np.array(v, dtype=np.float32)) for v in vecs]
    r = cronbach_alpha(_mk_emb(spark, vecs)).collect()[0]
    ref = _alpha_ref([[float(x) for x in v] for v in vecs32])
    assert r.alpha == ref and abs(r.alpha) < 0.45


def test_alpha_grouped_and_degenerate(spark):
    from protosc_spark.similarity import cronbach_alpha

    # group 0: perfectly consistent (all dims equal -> alpha = 1)
    # group 1: anti-covarying pair -> alpha < 0
    vecs = [
        [0.1, 0.1], [0.5, 0.5], [0.9, 0.9],   # label 0
        [0.1, 0.9], [0.5, 0.5], [0.9, 0.1],   # label 1
    ]
    labels = [0, 0, 0, 1, 1, 1]
    out = {
        r.label: r
        for r in cronbach_alpha(
            _mk_emb(spark, vecs, labels)
        ).collect()
    }
    assert abs(out[0].alpha - 1.0) < 1e-9
    assert out[1].alpha < 0

    # constant vectors: var_total = 0 -> NULL
    r = cronbach_alpha(
        _mk_emb(spark, [[0.5, 0.5]] * 4)
    ).collect()[0]
    assert r.alpha is None


# ----------------------------------------------------- hard negatives
class TestHardNegatives:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        )

    def test_filter_inside_ranking_not_after(self, spark):
        from pyspark.sql import functions as F

        from protosc_spark.similarity import hard_negatives

        # anchor surrounded by many same-label vectors; the single
        # other-label vector is far — top-k-then-filter at k=2 would
        # return nothing, the correct kernel must find it
        rows = [(0, [1.0, 0.0], 1)]
        rows += [(i, [1.0, 0.001 * i], 1) for i in range(1, 8)]
        rows += [(99, [0.0, 1.0], 2)]
        out = hard_negatives(
            self._df(spark, rows), F.col("vec_id") == 0, k=2
        ).collect()
        assert len(out) == 1
        assert out[0]["neighbor_id"] == 99
        assert out[0]["neighbor_label"] == 2 and out[0]["rank"] == 1

    def test_matches_numpy_brute_force(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from protosc_spark.similarity import hard_negatives

        rng = np.random.RandomState(5)
        vecs = rng.randn(80, 8).astype("float32")
        labels = rng.randint(0, 4, 80)
        rows = [
            (i, [float(x) for x in vecs[i]], int(labels[i]))
            for i in range(80)
        ]
        out = hard_negatives(
            self._df(spark, rows), F.col("vec_id") % 10 == 0, k=5
        ).collect()
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        for q in range(0, 80, 10):
            cos = np.round(unit @ unit[q], 6)
            cand = [
                (-cos[j], j)
                for j in range(80)
                if labels[j] != labels[q]
            ]
            want = [j for _, j in sorted(cand)[:5]]
            got = sorted(
                (r for r in out if r["query_id"] == q),
                key=lambda r: r["rank"],
            )
            assert [r["neighbor_id"] for r in got] == want

    def test_null_labels_never_qualify(self, spark):
        from pyspark.sql import functions as F

        from protosc_spark.similarity import hard_negatives

        rows = [(0, [1.0, 0.0], 1), (1, [1.0, 0.1], None),
                (2, [0.9, 0.1], 2)]
        out = hard_negatives(
            self._df(spark, rows), F.col("vec_id") == 0, k=5
        ).collect()
        assert [r["neighbor_id"] for r in out] == [2]

    def test_null_label_anchor_yields_no_rows(self, spark):
        from pyspark.sql import functions as F

        from protosc_spark.similarity import hard_negatives

        # both anchors selected; the NULL-label one is dropped from the
        # anchor set, the labelled one still finds its negative
        rows = [(0, [1.0, 0.0], None), (1, [1.0, 0.1], 1),
                (2, [0.9, 0.1], 2)]
        out = hard_negatives(
            self._df(spark, rows), F.col("vec_id") <= 1, k=5
        )
        got = [(r["query_id"], r["neighbor_id"]) for r in out.collect()]
        assert got == [(1, 2)]
