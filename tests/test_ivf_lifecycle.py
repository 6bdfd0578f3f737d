"""IVF index lifecycle: publish -> append increments -> search the union —
the incremental maintenance path (operators/similarity.py ivf_publish /
ivf_load / ivf_append / ivf_bucket_stats)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parqueryd_spark.operators.similarity import (
    ivf_append,
    ivf_bucket_stats,
    ivf_index,
    ivf_load,
    ivf_publish,
    ivf_search,
)
from tests.conftest import SF_SMOKE


@pytest.fixture
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture
def centroids(emb):
    return (
        emb.orderBy(F.col("vec_id").asc())
        .limit(8)
        .select(F.col("vec_id").cast("int").alias("centroid_id"), F.col("embedding"))
    )


def test_append_matches_single_shot_index(spark, emb, centroids, tmp_path):
    """Publishing half the corpus then appending the rest must index every
    vector into the same bucket a single-shot build would."""
    idx = str(tmp_path / "ivf")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    ivf_publish(spark, idx, first, centroids)
    ivf_append(spark, idx, rest, batch="b1")

    vectors, cen = ivf_load(spark, idx)
    got = {
        (r.vec_id, r.centroid_id)
        for r in vectors.select("vec_id", "centroid_id").collect()
    }
    want = {
        (r.vec_id, r.centroid_id)
        for r in ivf_index(emb, centroids).select("vec_id", "centroid_id").collect()
    }
    assert got == want


def test_search_over_appended_index_matches_oneshot(spark, emb, centroids, tmp_path):
    idx = str(tmp_path / "ivf")
    ivf_publish(spark, idx, emb.filter(F.col("vec_id") % 2 == 0), centroids)
    ivf_append(spark, idx, emb.filter(F.col("vec_id") % 2 == 1), batch="b1")
    vectors, cen = ivf_load(spark, idx)
    queries = emb.filter(F.col("vec_id") < 4)
    from_lifecycle = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_search(vectors, cen, queries, nprobe=3, k=4).collect()
    }
    oneshot = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_search(
            ivf_index(emb, centroids), centroids, queries, nprobe=3, k=4
        ).collect()
    }
    assert from_lifecycle == oneshot


def test_append_replay_is_idempotent(spark, emb, centroids, tmp_path):
    idx = str(tmp_path / "ivf")
    ivf_publish(spark, idx, emb.filter(F.col("vec_id") % 2 == 0), centroids)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    ivf_append(spark, idx, rest, batch="b1")
    n1 = ivf_load(spark, idx)[0].count()
    # a failed-and-replayed ingest re-runs the same batch id
    ivf_append(spark, idx, rest, batch="b1")
    assert ivf_load(spark, idx)[0].count() == n1


def test_bucket_stats_per_batch(spark, emb, centroids, tmp_path):
    idx = str(tmp_path / "ivf")
    ivf_publish(spark, idx, emb.filter(F.col("vec_id") % 2 == 0), centroids)
    counts = ivf_append(spark, idx, emb.filter(F.col("vec_id") % 2 == 1), batch="b1")
    appended = sum(r.n_appended for r in counts.collect())
    assert appended == emb.filter(F.col("vec_id") % 2 == 1).count()
    stats = ivf_bucket_stats(spark, idx).collect()
    assert {r.batch for r in stats} == {"base", "b1"}
    assert sum(r.n_vectors for r in stats) == emb.count()


def test_pca_fullrank_rotation_preserves_topk_exactly(spark, emb):
    """A full-rank PCA basis is an orthonormal rotation: cosines — and hence
    brute-force top-k — must be EXACTLY preserved. (Low-rank recall is
    data-dependent: this fixture's embeddings are near-isotropic, so k=16 of
    dim 64 keeps only ~16% of neighbors — measured, which is exactly why
    pca_fit's docstring says to validate recall on the real corpus before
    reducing.)"""
    from parqueryd_spark.operators.similarity import (
        brute_force_topk,
        pca_fit,
        pca_project,
    )

    dim = len(emb.first().embedding)
    comps = pca_fit(emb, k=dim)
    assert len(comps) == dim and all(len(c) == dim for c in comps)

    reduced = pca_project(emb, comps)
    assert len(reduced.first().embedding) == dim

    queries = emb.filter(F.col("vec_id") < 5)
    full = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    red = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            reduced, pca_project(queries, comps), k=5
        ).collect()
    }
    assert red == full


def test_pca_components_order_by_variance(spark, emb):
    from parqueryd_spark.operators.similarity import pca_fit, pca_project

    comps = pca_fit(emb, k=4)
    red = pca_project(emb, comps)
    stats = red.select(
        *[F.variance(F.col("embedding")[i]).alias(f"v{i}") for i in range(4)]
    ).first()
    variances = [stats[f"v{i}"] for i in range(4)]
    assert variances == sorted(variances, reverse=True)


def test_incremental_semantic_pairs_exhaustive_equals_exact(spark, emb, centroids, tmp_path):
    """With nprobe = n_centroids the incremental pairs equal the exact
    new-vs-all near-dup set (every bucket probed, every candidate verified)."""
    from parqueryd_spark.operators.similarity import (
        as_double,
        cosine,
        incremental_semantic_pairs,
    )

    idx = str(tmp_path / "ivf_inc")
    corpus = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    ivf_publish(spark, idx, corpus, centroids)
    got = incremental_semantic_pairs(
        spark, idx, new, threshold=0.4, nprobe=8
    )
    gp = {(r["id_a"], r["id_b"]) for r in got.collect()}
    # exact oracle: every (new, corpus) and ordered (new, new) pair
    a = emb.select(F.col("vec_id").alias("id_a"), as_double("embedding").alias("va")).filter(
        F.col("id_a") >= 400
    )
    ball = emb.select(F.col("vec_id").alias("id_b"), as_double("embedding").alias("vb"))
    cand = a.join(
        ball, (F.col("id_b") < 400) | (F.col("id_a") < F.col("id_b"))
    ).withColumn("cs", cosine(F.col("va"), F.col("vb")))
    exact = {
        (r["id_a"], r["id_b"])
        for r in cand.filter(F.col("cs") >= 0.4).select("id_a", "id_b").collect()
    }
    assert gp == exact and gp  # nonvacuous: the fixture corpus has such pairs


def test_incremental_semantic_pairs_finds_copies_at_small_nprobe(spark, emb, centroids, tmp_path):
    """An exact copy of a corpus vector must be caught even at nprobe=2: the
    copy probes the same home bucket its original was assigned to."""
    from parqueryd_spark.operators.similarity import incremental_semantic_pairs

    idx = str(tmp_path / "ivf_copy")
    corpus = emb.filter(F.col("vec_id") < 400)
    ivf_publish(spark, idx, corpus, centroids)
    copies = (
        emb.filter(F.col("vec_id") < 5)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    got = incremental_semantic_pairs(spark, idx, copies, threshold=0.999, nprobe=2)
    found = {(r["id_a"], r["id_b"]) for r in got.collect()}
    assert {(i + 10000, i) for i in range(5)} <= found


def test_served_index_route_equals_adhoc_ivf(spark):
    """ann_ivf_index_topk (published-index route, the benched 100 TB artifact)
    must return exactly what the ad-hoc ivf_topk composition returns at the
    same configuration — same centroids, same probes, same ranks."""
    from parqueryd_spark.queries.similarity import ann_ivf_index_topk, ann_ivf_topk

    idx = {
        tuple(r)
        for r in ann_ivf_index_topk(spark, SF_SMOKE)
        .select("query_id", "neighbor_id", "rank")
        .collect()
    }
    adhoc = {
        tuple(r)
        for r in ann_ivf_topk(spark, SF_SMOKE)
        .select("query_id", "neighbor_id", "rank")
        .collect()
    }
    assert idx == adhoc and idx


def test_kmeans_centroids_beat_first_k_on_clustered_corpus(spark, tmp_path):
    """VERDICT r8 item #3: on a corpus with real cluster structure, fitted
    KMeans centroids (ivf_publish(centroids="kmeans")) must reach recall@10
    >= the fit-free first-K-by-id default at equal nprobe — first-K centroids
    all fall inside whichever cluster owns the low ids, so probes miss the
    other clusters' neighbors; the fitted quantizer tracks the structure."""
    import numpy as np

    from parqueryd_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(7)
    n_clusters, per_cluster, dim = 8, 250, 16
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):  # ids in CLUSTER BLOCKS: first-K all in cluster 0
        for _ in range(per_cluster):
            v = centers[c] + rng.normal(scale=0.15, size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # one query per cluster, drawn from its population
    queries = corpus.filter(F.col("vec_id") % per_cluster == 17)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(corpus, queries, k=10).collect()
    }

    def recall(mode: str) -> float:
        idx = str(tmp_path / f"ivf_{mode}")
        ivf_publish(spark, idx, corpus, mode, n_centroids=n_clusters)
        vectors, cen = ivf_load(spark, idx)
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_search(vectors, cen, queries, nprobe=2, k=10).collect()
        }
        return len(got & exact) / len(exact)

    r_kmeans, r_first = recall("kmeans"), recall("first_k")
    assert r_kmeans >= r_first, (r_kmeans, r_first)
    assert r_kmeans >= 0.9, r_kmeans  # fitted quantizer must actually work
