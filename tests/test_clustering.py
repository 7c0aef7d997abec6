"""Property tests for the iterative k-means operators (rows-only in the
driver, so these ARE their correctness gate — SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.operators.clustering import (
    K,
    assign_clusters,
    cluster_kmeans,
    kmeans_fit,
)
from avro_parquet_spark_example_spark.registry import get_query
from avro_parquet_spark_example_spark.sources.catalog import load

@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def fitted(vectors):
    return kmeans_fit(vectors)


def test_kmeans_deterministic(vectors, fitted):
    """Same data → identical centroids on a fresh fit (rounding pins the
    float-sum order)."""
    c1, i1 = fitted
    c2, i2 = kmeans_fit(vectors)
    assert c1 == c2
    assert i1 == i2


def test_kmeans_assignment_optimal(spark, vectors, fitted):
    """Every vector sits with its (deterministically) nearest centroid:
    recomputing the best cluster via an independent path agrees."""
    centroids, _ = fitted
    assigned = assign_clusters(vectors, centroids)
    # independent check: sq_dist equals min over all centroid distances
    from avro_parquet_spark_example_spark.operators.clustering import _sq_dist_sql

    dists = [
        F.expr(_sq_dist_sql("embedding", c)).alias(f"d{i}")
        for i, c in enumerate(centroids)
    ]
    wide = assigned.select("vec_id", "cluster", "sq_dist", *dists)
    bad = wide.filter(
        F.col("sq_dist")
        > F.least(*[F.col(f"d{i}") for i in range(len(centroids))]) + 1e-12
    ).count()
    assert bad == 0


def test_kmeans_partitions_all_points(spark, vectors, fitted):
    centroids, _ = fitted
    assigned = assign_clusters(vectors, centroids)
    total = vectors.count()
    assert assigned.count() == total
    sizes = dict(
        assigned.groupBy("cluster").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert sum(sizes.values()) == total
    assert set(sizes) <= set(range(K))


def test_kmeans_improves_over_init(spark, vectors, fitted):
    """Final inertia must be ≤ the inertia of the init assignment
    (Lloyd's is monotone non-increasing)."""
    first = vectors.orderBy("vec_id").limit(K).collect()
    init = [[round(float(x), 9) for x in r["embedding"]] for r in first]
    inertia_init = (
        assign_clusters(vectors, init).agg(F.sum("sq_dist")).collect()[0][0]
    )
    centroids, _ = fitted
    inertia_final = (
        assign_clusters(vectors, centroids).agg(F.sum("sq_dist")).collect()[0][0]
    )
    assert inertia_final <= inertia_init + 1e-9


def test_cluster_kmeans_query_shape(spark, sf_dir):
    df = cluster_kmeans(spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= K
    assert df.columns == ["cluster", "n_vectors", "mean_sq_dist"]


def test_kmeans_fewer_rows_than_k(spark, vectors):
    """k shrinks to the row count instead of crashing; empty input raises."""
    import pytest

    small = vectors.limit(3)
    centroids, _ = kmeans_fit(small, k=8, max_iters=2)
    assert len(centroids) == 3
    with pytest.raises(ValueError):
        kmeans_fit(vectors.limit(0))


def test_checkpoint_heavy_queries_leave_no_oversized_blocks(spark, sf_dir):
    """Bounded-frame rule, registry-sampled (the kcenter leak test's
    id-based discipline extended per VERDICT r15): after running the
    checkpoint-heaviest operators, every persisted block still resident
    must be SMALL — eager localCheckpoints may linger until the async
    ContextCleaner runs, but under the bounded-frame rule none of them
    may be corpus-scale."""
    import gc
    import time

    heavy = [
        "er_blocked_match",
        "er_multipass_match",
        "dedup_minhash_verified",
        "cluster_kmeans_exact",
        "agg_kendall_tau_b",
        "eval_cohens_kappa",
        "curation_dsir_importance",
    ]
    for name in heavy:
        get_query(name).fn(spark, sf_dir).count()
    gc.collect()
    spark.catalog.clearCache()
    time.sleep(1.0)
    cap = 32 * 1024 * 1024
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    big = [
        (i.id(), i.name(), i.memSize() + i.diskSize())
        for i in infos
        if i.memSize() + i.diskSize() > cap
    ]
    assert not big, f"corpus-scale persisted blocks survived: {big}"


def test_kcenter_leaves_no_cached_blocks(spark, sf_dir):
    """ADVICE r11 #2 regression: kcenter_greedy persisted its final
    running-min frame and never released it — in a long single-JVM
    session each call leaked a corpus-sized DISK_ONLY block. After the
    fix, repeated calls must leave the storage layer exactly as they
    found it."""
    from avro_parquet_spark_example_spark.operators.clustering import (
        kcenter_greedy,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    # Leak detection is by RDD ID, not by global count: other operators'
    # eager localCheckpoints (r15) leave persisted RDDs that the async
    # ContextCleaner releases at unpredictable times, so the total count
    # drifts DOWN mid-test (observed 119 -> 115) even though kcenter
    # leaks nothing. A NEW id surviving a call is exactly the ADVICE
    # r11 #2 regression; ids vanishing are other frames being cleaned.
    def cached_ids() -> set:
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    before = cached_ids()
    pool = load(spark, sf_dir, "embeddings").limit(200)
    for _ in range(3):
        assert kcenter_greedy(pool, k=4).count() == 4
        leaked = cached_ids() - before
        assert not leaked, (
            f"kcenter_greedy left persisted blocks behind: {leaked}"
        )


def test_kmeans_exact_partitions_corpus(spark, sf_dir):
    rows = get_query("cluster_kmeans_exact").fn(spark, sf_dir).collect()
    clusters = {r["cluster"] for r in rows}
    assert clusters == {0, 1, 2, 3}
    n_total = {r["cluster"]: r["n"] for r in rows}
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(n_total.values()) == n_vecs
    assert len(rows) == 4 * 64  # full centroid table
